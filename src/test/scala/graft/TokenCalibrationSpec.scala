package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Round-8 verdict ask #7: make the chars/4 token-cost heuristic that
  * prices t12/m11 packing TRUSTWORTHY — measure its error against the
  * t06 regex pretokenizer (the closest real-tokenizer proxy in the
  * suite) and pin the bound, and prove the packer accepts a pluggable
  * real cost without plan changes.
  */
class TokenCalibrationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val bpeCountSql =
    "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"

  test("chars/4 is a bounded CONSERVATIVE overestimate of regex pretokens") {
    import spark.implicits._
    val m = Tables(spark, dir, "documents")
      .select(
        (expr(Multimodal.DefaultTextCostSql).cast("double") /
          expr(bpeCountSql).cast("double")).as("ratio"))
      .agg(min($"ratio").as("lo"), max($"ratio").as("hi"),
        avg($"ratio").as("mean"))
      .head()
    val (lo, hi, mean) =
      (m.getDouble(0), m.getDouble(1), m.getDouble(2))
    // measured on the corpus: per-doc 1.10–1.53, mean ≈ 1.36 — chars/4
    // never UNDERcounts here, so a packed sequence can underfill but
    // never overflow its token budget; the waste bound is ~1.6×
    assert(lo >= 1.0, s"chars/4 UNDERcounts somewhere (min ratio $lo): " +
      "the conservative-packing guarantee is broken")
    assert(hi <= 1.6, s"chars/4 overcounts beyond the calibrated bound ($hi)")
    assert(mean >= 1.2 && mean <= 1.5, s"mean ratio drifted to $mean")
  }

  test("t12's whitespace token counts equal the t06 pretokenizer on this corpus") {
    import spark.implicits._
    // the synthetic docs are lowercase word streams, so letter runs =
    // whitespace tokens — t12's packed lengths are pretokenizer-TRUE
    // here, not merely approximate
    val n = Tables(spark, dir, "documents")
      .filter(expr(s"size(split(text, ' ')) != $bpeCountSql"))
      .count()
    assert(n == 0, s"$n docs where whitespace and pretoken counts diverge")
  }

  test("m11 with the real pretoken cost packs tighter and never overflows") {
    import spark.implicits._
    val budget = 2048L
    val default_ = Multimodal.m11(spark, dir)
      .select($"source", $"seq", $"seq_tokens").collect()
    val calibrated = Multimodal.m11With(spark, dir, bpeCountSql)
      .select($"source", $"seq", $"seq_tokens").collect()
    // same machinery, cheaper per-doc costs → no source needs MORE
    // sequences, and the corpus as a whole needs strictly fewer tokens
    def seqsPerSource(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)).max).toMap
    val dSeqs = seqsPerSource(default_)
    val cSeqs = seqsPerSource(calibrated)
    cSeqs.foreach { case (src, c) =>
      assert(c <= dSeqs(src), s"$src: calibrated cost needs MORE sequences")
    }
    assert(calibrated.map(_.getLong(2)).sum < default_.map(_.getLong(2)).sum)
    // cumsum-assignment invariant under the swapped cost: the first doc
    // of a source's LAST sequence has prior ≥ last·budget, and that
    // prior equals the token total of all earlier sequences — so the
    // non-final sequences jointly cover every full budget before it
    calibrated.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val last = rows.map(_.getInt(1)).max
      val beforeLast = rows.filter(_.getInt(1) < last).map(_.getLong(2)).sum
      assert(beforeLast >= last * budget,
        s"$src: sequences 0..${last - 1} hold $beforeLast tokens < " +
          s"${last * budget} — a sequence opened before its predecessor filled")
    }
  }

  test("registered m12 IS the exact-cost packer (m11With + t06's pretokenizer)") {
    import spark.implicits._
    val m12 = Multimodal.queries("m12_interleave_exact")(spark, dir)
    val viaSeam = Multimodal.m11With(spark, dir, bpeCountSql)
    assert(m12.exceptAll(viaSeam).isEmpty && viaSeam.exceptAll(m12).isEmpty,
      "m12 diverges from m11With with the pretokenizer cost")
    // the delta vs m11's chars/4 calibration: the exact cost is lower
    // per doc (pinned above), so the manifest's token totals shrink
    val m11Total = Multimodal.m11(spark, dir)
      .agg(sum($"seq_tokens")).head().getLong(0)
    val m12Total = m12.agg(sum($"seq_tokens")).head().getLong(0)
    assert(m12Total < m11Total,
      s"exact-cost manifest ($m12Total) must run below chars/4's ($m11Total)")
  }

  /** A GPT-2-format merges fixture whose token counts are small enough
    * to verify by hand — the EXACT-mode contract: counts follow the
    * published byte-level BPE algorithm, not a heuristic.
    */
  private def mergesFixture: String = {
    val f = java.nio.file.Files.createTempFile("graft_merges", ".txt")
    java.nio.file.Files.write(f,
      "#version: 0.2 (graft test fixture)\nh e\nl l\nhe ll\nhell o\n"
        .getBytes("UTF-8"))
    f.toString
  }

  test("bpe_count follows byte-level BPE exactly on hand-checked cases") {
    import spark.implicits._
    val path = mergesFixture
    val cases = Seq(
      // full merge chain: h e -> he, l l -> ll, he ll -> hell, hell o
      ("hello", 1),
      // pretokens ["hello", " hello"]: the second carries the encoded
      // space byte as its own symbol (no merge reaches across it), so
      // it lands at [space, hello] = 2; total 1 + 2
      ("hello hello", 3),
      ("help", 3), // he, l, p
      ("xyz", 3), // no merges apply
      ("abc123", 6), // pretokenizer splits letters|digits; no merges
      ("", 0))
    cases.foreach { case (txt, want) =>
      val got = Seq(txt).toDF("text")
        .select(expr(s"bpe_count(text, '$path')").as("n"))
        .head().getInt(0)
      assert(got == want, s"bpe_count('$txt') = $got, want $want")
    }
  }

  test("bpe_count honors merge lines whose symbols are '#'") {
    import spark.implicits._
    // byte 0x23 maps to itself in bytes-to-unicode, so "# #" and
    // "## #" are REAL merges in GPT-2-format files; only the
    // `#version` header line is a comment. A loader that drops every
    // '#'-prefixed line would leave "###" unmerged (count 3, not 1).
    val f = java.nio.file.Files.createTempFile("graft_merges_hash", ".txt")
    java.nio.file.Files.write(f,
      "#version: 0.2\n# #\n## #\n".getBytes("UTF-8"))
    val got = Seq("###").toDF("text")
      .select(expr(s"bpe_count(text, '$f')").as("n"))
      .head().getInt(0)
    assert(got == 1, s"bpe_count('###') = $got, want 1 — '#' merges dropped")
  }

  test("m11 exact mode: packed totals equal the tokenizer's own counts") {
    import spark.implicits._
    val path = mergesFixture
    val costSql = s"bpe_count(text, '$path')"
    val packed = Multimodal.m11With(spark, dir, costSql)
    val packedTokens = packed.agg(sum($"text_tokens")).head().getLong(0)
    val directTokens = Tables(spark, dir, "documents")
      .agg(sum(expr(costSql)).cast("long")).head().getLong(0)
    // dataloader-exact: the packing manifest's token totals ARE the
    // tokenizer's counts, not a calibrated bound
    assert(packedTokens == directTokens,
      s"packed $packedTokens != tokenizer $directTokens")
    // and the cumsum-assignment invariant holds under the exact cost
    val budget = 2048L
    packed.select($"source", $"seq", $"seq_tokens").collect()
      .groupBy(_.getString(0)).foreach { case (src, rows) =>
        val last = rows.map(_.getInt(1)).max
        val beforeLast = rows.filter(_.getInt(1) < last).map(_.getLong(2)).sum
        assert(beforeLast >= last * budget, s"$src: early sequence opened")
      }
  }
}
