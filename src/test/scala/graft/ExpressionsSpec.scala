package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

class ExpressionsSpec extends SparkSpec {

  test("one table of 17 functions, installed by the session's extension") {
    val names = GraftFunctions.table.map(_.name)
    assert(names.size == 17 && names.distinct.size == 17)
    // no spec calls register before this lookup, so each hit is the
    // GraftExtensions install GraftSession.build wires in
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.table.foreach { e =>
      assert(reg.lookupFunction(e.id).exists(i => Option(i.getUsage).exists(_.nonEmpty)),
        s"${e.name} is not installed with a usage string")
    }
    val before = reg.listFunction().size
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(reg.listFunction().size == before)
  }

  test("registered functions run inside SQL and round-trip") {
    val row = spark.sql(
      """SELECT zlib_unpack(zlib_pack(array(1, 2, 3, -4))) AS rt,
        |       simhash64(array('a', 'b')) AS sh,
        |       rolling_minhash('hello world, long enough input') AS rh
        |""".stripMargin).collect()(0)
    assert(row.getAs[scala.collection.Seq[Int]]("rt").toSeq == Seq(1, 2, 3, -4))
    assert(row.getAs[Long]("sh") != 0L)
    assert(row.getAs[Long]("rh") != 0L)
  }

  test("expressions survive codegen over a real column") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"document number $i with some shared text"))
      .toDF("id", "text")
      .selectExpr("id", "simhash64(split(text, ' ')) AS sh",
        "zlib_pack(array(CAST(id AS INT))) AS blob", "rolling_minhash(text) AS fp")
    assert(df.count() == 100)
    assert(df.select("sh").distinct().count() > 1)
    val unpacked = df.selectExpr("zlib_unpack(blob)[0] AS back", "id").collect()
    assert(unpacked.forall(r => r.getAs[Int]("back").toLong == r.getAs[Long]("id")))
  }

  test("minhash_sig is bit-identical to the interpreted HOF formulation") {
    import spark.implicits._
    // the second half forces EVERY 3-gram shingle into 32..63 bytes —
    // XXH64's one-stripe path, exactly the slice the DuckDB oracle
    // replay (Dedup.minhashOracleSql) also carries (it error()s at
    // 64+); a kernel rewrite that hand-rolls the hash and drops the
    // stripe path must fail here. Three tokens per doc → one shingle,
    // 41..43 bytes, always in-slice.
    val df = ((1 to 200).map(i =>
      (i.toLong, s"doc $i shares trigram content with doc ${i / 3} and more filler tokens here")) ++
      (201 to 260).map(i =>
        (i.toLong, s"stripetok${i}xx midsharetok${i / 3} tailtoken${i}zz")))
      .toDF("doc_id", "text")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(0, size(split(text,' ')) - 3), i -> " +
          "concat_ws(' ', split(text,' ')[i], split(text,' ')[i+1], split(text,' ')[i+2]))) AS shingles")
      .selectExpr("doc_id",
        "minhash_sig(shingles) AS fast",
        "transform(sequence(0, 63), j -> array_min(transform(shingles, sh -> xxhash64(j, sh)))) AS slow")
    val bad = df.selectExpr("doc_id", "fast = slow AS same").filter("NOT same").count()
    assert(bad == 0, "minhash_sig diverged from xxhash64 HOF formulation")
  }

  test("sig_eq_count is bit-identical to the zip_with/filter/size chain") {
    import spark.implicits._
    // real signatures over a corpus with genuine near-dups, so the
    // equal-lane counts span the whole 0..64 range
    val df = (1 to 300).map(i =>
      (i.toLong, s"doc ${i / 4} shares most tokens with its group " +
        s"plus unique marker u$i at the end"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "minhash_sig(shingles(split(text, ' '), 3)) AS sig")
    val pairs = df.as("a").crossJoin(df.limit(20).as("b"))
      .selectExpr(
        "sig_eq_count(a.sig, b.sig) AS fast",
        "size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v)) AS slow")
    assert(pairs.filter("fast != slow").count() == 0,
      "sig_eq_count diverged from the HOF formulation")
    assert(pairs.filter("fast = 64").count() > 0 &&
      pairs.filter("fast < 64").count() > 0, "degenerate fixture")
    // null and length-mismatch semantics match the HOF chain too
    val edge = spark.sql(
      """SELECT sig_eq_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n1,
        |  sig_eq_count(array(1L, 2L, 3L), array(1L, 9L)) AS short,
        |  size(filter(zip_with(array(1L, 2L, 3L), array(1L, 9L),
        |    (x, y) -> x = y), v -> v)) AS short_hof
        |""".stripMargin).collect()(0)
    assert(edge.isNullAt(0))
    assert(edge.getInt(1) == edge.getInt(2))
  }

  test("shingles(toks, n) matches the HOF formulation for size >= n") {
    import spark.implicits._
    val df = (1 to 200).map(i =>
      (i.toLong, s"shingle test doc $i repeated shingle test doc ${i / 2} tail"))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "shingles(toks, 3) AS fast",
        "array_distinct(transform(sequence(0, size(toks) - 3), i -> " +
          "concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS slow")
    assert(df.filter("fast != slow").count() == 0)
    // short docs: [] rather than the sequence(0,-1) surprise
    val short = spark.sql("SELECT shingles(array('one', 'two'), 3) AS s").head()
    assert(short.getAs[scala.collection.Seq[String]]("s").isEmpty)
  }

  test("vec_dot is bit-identical to the aggregate/zip_with fold") {
    import spark.implicits._
    val df = (1 to 100).map { i =>
      (i.toLong, Array.tabulate(64)(d => (math.sin(i * 64 + d) * 10).toFloat))
    }.toDF("id", "v")
      .selectExpr("id",
        "vec_dot(v, v) AS fast",
        "aggregate(zip_with(v, v, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0e0, (acc, w) -> acc + w) AS slow")
    assert(df.filter("fast != slow").count() == 0)
  }

  test("mistyped arguments fail analysis, not at runtime") {
    def fails(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
        e.getMessage.contains("expects"), s"wanted analysis failure for: $sql")
    }
    fails("SELECT zlib_pack(array('a', 'b'))")
    fails("SELECT zlib_unpack('abc')")
    fails("SELECT snappy_pack('xyz')")
    fails("SELECT simhash64('not-an-array')")
    fails("SELECT rolling_minhash(array('a'))")
    fails("SELECT zlib_pack_str(array(1, 2))")
  }

  test("null array elements are rejected by pack, tolerated by simhash") {
    val e = intercept[Exception](
      spark.sql("SELECT zlib_pack(array(1, CAST(NULL AS INT)))").collect())
    assert(e.getMessage.contains("null array element"))
    // a null token casts no vote — same fingerprint as without it
    val r = spark.sql(
      """SELECT simhash64(array('a', 'b')) = simhash64(array('a', CAST(NULL AS STRING), 'b'))"""
    ).collect().head.getBoolean(0)
    assert(r)
  }

  test("mds_pairs packs co-called pairs, skips unknowns and nulls") {
    def unpack(v: Long) = ((v >> 40).toInt, ((v >> 16) & 0xffffff).toInt,
      (v & 0xffff).toInt)
    // gt_types: s0=hom_ref(0), s1=het(1), s2=unknown(2), s3=hom_alt(3),
    // s4=null (treated unknown) → co-called pairs among {0, 1, 3} only
    val got = spark.sql(
      "SELECT mds_pairs(array(0, 1, 2, 3, CAST(NULL AS INT)))")
      .collect().head.getSeq[Long](0).map(unpack)
    assert(got == Seq(
      (0, 1, 1), // copies 0 vs 1 → 1
      (0, 3, 4), // copies 0 vs 2 → 4
      (1, 3, 1)) // copies 1 vs 2 → 1
    )
    // empty and all-unknown arrays yield no pairs
    assert(spark.sql("SELECT size(mds_pairs(CAST(array() AS ARRAY<INT>)))")
      .collect().head.getInt(0) == 0)
    assert(spark.sql("SELECT size(mds_pairs(array(2, 2)))").collect().head.getInt(0) == 0)
  }

  test("a non-integral shingles n is rejected, not truncated") {
    val e = intercept[Exception](
      spark.sql("SELECT shingles(array('a','b','c'), 2.9)").collect())
    assert(e.getMessage.contains("integer literal"))
  }
}
