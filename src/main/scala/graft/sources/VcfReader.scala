package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

import VcfParser._

/** VCF → DataFrames, the reference's ETL surface on Spark.
  *
  * The header (KB-sized) is parsed driver-side and DRIVES the variant
  * schema — every INFO field becomes a typed column exactly as the
  * reference infers SQL types from `##INFO` Type/Number. Body lines are
  * parsed per-partition (pure function, embarrassingly parallel over a
  * text scan — at 100 TB each bgzip shard/file split parses
  * independently; nothing is collected to the driver).
  *
  * Multi-allelic records are decomposed to one row per ALT (the
  * reference REQUIRES a vt-decomposed input; we do the decompose
  * ourselves): Number=A INFO fields pick the alt's value, genotype
  * classes are recomputed per alt.
  */
object VcfReader {

  /** Column layout shared by the fixed (non-INFO) part of `variants`. */
  private val fixedFields: Seq[StructField] = Seq(
    StructField("chrom", StringType),
    StructField("pos", LongType, nullable = false),
    StructField("vid", StringType),
    StructField("ref", StringType),
    StructField("alt", StringType),
    StructField("qual", DoubleType),
    StructField("filter", StringType))

  private val statFields: Seq[StructField] = Seq(
    StructField("call_rate", DoubleType, nullable = false),
    StructField("aaf", DoubleType, nullable = false),
    StructField("num_hom_ref", IntegerType, nullable = false),
    StructField("num_het", IntegerType, nullable = false),
    StructField("num_hom_alt", IntegerType, nullable = false),
    StructField("num_unknown", IntegerType, nullable = false),
    // The reference's six per-sample genotype arrays (packed as blobs on
    // its variants table; here typed arrays — Vcf2Db packs them at write
    // time). Missing numeric sub-fields (absent FORMAT key or '.') → -1,
    // the sentinel the reference's unknown depths/quals use.
    StructField("gt_types", ArrayType(IntegerType, containsNull = false)),
    StructField("gts", ArrayType(StringType, containsNull = false)),
    StructField("gt_depths", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_ref_depths", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_alt_depths", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_quals", ArrayType(IntegerType, containsNull = false)),
    // FORMAT PL (phred-scaled genotype likelihoods, Number=G) split into
    // the three per-alt diploid columns the reference ships for GEMINI
    // compatibility (gt_phred_ll_homref/het/homalt); -1 = missing.
    StructField("gt_phred_ll_homref", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_phred_ll_het", ArrayType(IntegerType, containsNull = false)),
    StructField("gt_phred_ll_homalt", ArrayType(IntegerType, containsNull = false)),
    // 1 = the GT call is phased ("0|1"), 0 = unphased — the reference's
    // gt_phases bool array as a packable int array.
    StructField("gt_phases", ArrayType(IntegerType, containsNull = false)))

  private def infoType(spec: FieldSpec): DataType = spec.number match {
    case "0" => BooleanType
    case "1" | "A" => spec.vcfType match {
      case "Integer" => IntegerType
      case "Float" => DoubleType
      case "Flag" => BooleanType
      case _ => StringType
    }
    // R (per-allele incl. ref), G (per-genotype), '.' and fixed >1:
    // numeric fields become typed ARRAYS (post-decompose R keeps
    // [ref, this-alt], G the diploid [0/0, 0/a, a/a] triple) — an
    // upgrade over the reference, which degrades these to TEXT.
    case _ => spec.vcfType match {
      case "Integer" => ArrayType(IntegerType)
      case "Float" => ArrayType(DoubleType)
      case _ => StringType // multi-valued strings stay raw text
    }
  }

  /** INFO specs that become `variants` columns (annotation key excluded —
    * it feeds the `variant_impacts` table instead).
    */
  def infoSpecs(h: Header): Seq[FieldSpec] =
    h.infos.values.filterNot(s => h.annKey.contains(s.id)).toSeq

  def variantSchema(h: Header): StructType =
    StructType(fixedFields ++
      infoSpecs(h).map(s => StructField(sanitize(s.id), infoType(s))) ++
      statFields)

  /** Per-alt value of an INFO field (post-decompose semantics). */
  private def infoValue(spec: FieldSpec, raw: Option[String], altIx: Int): Any =
    (spec.number, raw) match {
      case ("0", r) => r.isDefined
      case (_, None) => if (infoType(spec) == BooleanType) false else null
      case ("A", Some(v)) =>
        val parts = v.split(',')
        val x = if (altIx - 1 < parts.length) parts(altIx - 1) else "."
        lenientScalar(spec, x)
      case ("1", Some(v)) => lenientScalar(spec, v)
      case (_, Some(v)) =>
        infoType(spec) match {
          case _: ArrayType =>
            val parts = v.split(',')
            def at(i: Int): Any =
              if (i >= parts.length) null else lenientScalar(spec, parts(i))
            spec.number match {
              case "R" => Seq(at(0), at(altIx)) // ref + this alt
              case "G" =>
                // diploid genotype index (j,k): k(k+1)/2 + j → this
                // alt's [0/0, 0/alt, alt/alt] triple after decompose
                val half = altIx * (altIx + 1) / 2
                Seq(at(0), at(half), at(half + altIx))
              case _ => parts.indices.map(at)
            }
          case _ => v
        }
    }

  /** scalarValue, but a malformed token degrades the cell to null (like
    * fmtInt's -1) instead of failing a cohort-scale load — the TEXT
    * passthrough these typed columns replaced tolerated any garbage.
    */
  private def lenientScalar(spec: FieldSpec, v: String): Any =
    try scalarValue(spec, v)
    catch { case _: NumberFormatException => null }

  private def scalarValue(spec: FieldSpec, v: String): Any =
    if (v == ".") null
    else spec.vcfType match {
      case "Integer" => v.toInt
      case "Float" => v.toDouble
      case _ => v
    }

  /** Missing-value sentinel for numeric FORMAT sub-fields (the
    * reference's unknown-depth/qual encoding).
    */
  private val Missing = -1

  /** Sample's FORMAT sub-field at key index `ix`, "" when absent (a
    * sample column may carry fewer fields than the FORMAT declares).
    */
  private def fmtAt(sample: Vector[String], ix: Int): String =
    if (ix < 0 || ix >= sample.length) "" else sample(ix)

  private def fmtInt(sample: Vector[String], ix: Int): Int = {
    val v = fmtAt(sample, ix)
    if (v.isEmpty || v == ".") Missing
    else try v.toInt catch { case _: NumberFormatException => Missing }
  }

  /** AD ("ref,alt1,alt2,…") component at allele index `allele`. */
  private def adAt(sample: Vector[String], ix: Int, allele: Int): Int = {
    val v = fmtAt(sample, ix)
    if (v.isEmpty || v == ".") Missing
    else {
      val parts = v.split(',')
      if (allele >= parts.length || parts(allele) == ".") Missing
      else try parts(allele).toInt catch { case _: NumberFormatException => Missing }
    }
  }

  /** A sample's PL comma-list pre-split once per record (empty when
    * absent) — the per-alt lookups below index into it without
    * re-splitting on the parse hot path.
    */
  private def plParts(sample: Vector[String], ix: Int): Array[String] = {
    val v = fmtAt(sample, ix)
    if (v.isEmpty || v == ".") Array.empty else v.split(',')
  }

  /** Pre-split PL component at flat genotype index `gIx` — the same
    * diploid k(k+1)/2+j indexing as Number=G INFO fields.
    */
  private def plAt(parts: Array[String], gIx: Int): Int =
    if (gIx >= parts.length || parts(gIx) == ".") Missing
    else try parts(gIx).toInt catch { case _: NumberFormatException => Missing }

  /** One decomposed variant row per (record, alt). `needed` gates the
    * expensive per-column work (INFO coercion, per-sample arrays): a
    * pruned scan leaves unneeded slots null — the row keeps FULL-schema
    * arity, the projection downstream never reads those slots, and a
    * 2-column query over a 100-INFO, 1000-sample VCF costs 2 columns of
    * parse, not the whole record.
    */
  private def variantRows(h: Header, specs: Seq[FieldSpec], rec: Record,
      needed: String => Boolean): Seq[Row] = {
    val gtIx = rec.formatKeys.indexOf("GT")
    val dpIx = rec.formatKeys.indexOf("DP")
    val gqIx = rec.formatKeys.indexOf("GQ")
    val adIx = rec.formatKeys.indexOf("AD")
    val plIx = rec.formatKeys.indexOf("PL")
    val needStats = Seq("call_rate", "aaf", "num_hom_ref", "num_het",
      "num_hom_alt", "num_unknown").exists(needed)
    val needGtTypes = needStats || needed("gt_types")
    val needGts = needed("gts") || needed("gt_phases")
    val needPl = Seq("gt_phred_ll_homref", "gt_phred_ll_het",
      "gt_phred_ll_homalt").exists(needed)
    // Per-sample, alt-independent arrays computed once per record.
    // fmtAt handles gtIx < 0 (FORMAT without GT) and truncated sample
    // columns alike: the arrays stay cohort-width with "" → UNKNOWN,
    // never shorter than the sample list (index-aligned consumers
    // would silently mis-attribute on a short array).
    val gts: Seq[String] =
      if (needGts) rec.genotypes.map(s => fmtAt(s, gtIx)) else null
    val phases: Seq[Int] =
      if (needed("gt_phases")) gts.map(g => if (g.contains('|')) 1 else 0) else null
    val depths: Seq[Int] =
      if (needed("gt_depths")) rec.genotypes.map(s => fmtInt(s, dpIx)) else null
    val quals: Seq[Int] =
      if (needed("gt_quals")) rec.genotypes.map(s => fmtInt(s, gqIx)) else null
    val refDepths: Seq[Int] =
      if (needed("gt_ref_depths")) rec.genotypes.map(s => adAt(s, adIx, 0)) else null
    val pls: Seq[Array[String]] =
      if (needPl) rec.genotypes.map(s => plParts(s, plIx)) else null
    val plHomRef: Seq[Int] =
      if (needed("gt_phred_ll_homref")) pls.map(p => plAt(p, 0)) else null
    rec.alts.zipWithIndex.map { case (alt, i0) =>
      val altIx = i0 + 1
      val gtTypes: Seq[Int] =
        if (needGtTypes) rec.genotypes.map(s => gtType(fmtAt(s, gtIx), altIx))
        else null
      val altDepths: Seq[Int] =
        if (needed("gt_alt_depths")) rec.genotypes.map(s => adAt(s, adIx, altIx))
        else null
      // PL's flat diploid index for (j, k): k(k+1)/2 + j — this alt's
      // [0/0, 0/alt, alt/alt] triple after decompose
      val half = altIx * (altIx + 1) / 2
      val plHet: Seq[Int] =
        if (needed("gt_phred_ll_het")) pls.map(p => plAt(p, half)) else null
      val plHomAlt: Seq[Int] =
        if (needed("gt_phred_ll_homalt")) pls.map(p => plAt(p, half + altIx))
        else null
      val st = if (needStats) gtStats(gtTypes) else null
      val infoVals = specs.map(s =>
        if (needed(sanitize(s.id))) infoValue(s, rec.info.get(s.id), altIx)
        else null)
      Row.fromSeq(
        Seq(rec.chrom, rec.pos, rec.id.orNull, rec.ref, alt,
          rec.qual.map(Double.box).orNull, rec.filter.orNull) ++ infoVals ++
          // Seq[Any] explicitly: an unascribed Seq(Double, …, Int, …)
          // unifies to Seq[Double] and silently WIDENS the int stats
          (if (st == null) Seq[Any](null, null, null, null, null, null)
           else Seq[Any](st.callRate, st.aaf, st.numHomRef, st.numHet,
             st.numHomAlt, st.numUnknown)) ++
          Seq(if (needed("gt_types")) gtTypes else null,
            if (needed("gts")) gts else null,
            depths, refDepths, altDepths, quals,
            plHomRef, plHet, plHomAlt, phases))
    }
  }

  /** Decomposed variant rows of one body line (shared by the Dataset
    * path below and the DataSourceV2 PartitionReader); the pruned form
    * computes only the columns `needed` accepts.
    */
  def decomposedRows(h: Header, line: String): Seq[Row] =
    decomposedRows(h, line, _ => true)

  def decomposedRows(h: Header, line: String, needed: String => Boolean): Seq[Row] =
    variantRows(h, infoSpecs(h), parseRecord(line), needed)

  def variants(h: Header, body: Dataset[String], permissive: Boolean = false): DataFrame = {
    val schema = variantSchema(h)
    val specs = infoSpecs(h)
    implicit val enc = RowEncoder.encoderFor(schema)
    if (permissive)
      body.filter(isBodyLine _).mapPartitions(_.flatMap(l =>
        VcfParser.tryParseRecord(l).toSeq.flatMap(r =>
          try variantRows(h, specs, r, _ => true)
          catch { case scala.util.control.NonFatal(_) => Seq.empty })))
    else
      body.filter(isBodyLine _)
        .mapPartitions(_.flatMap(l => variantRows(h, specs, parseRecord(l), _ => true)))
  }

  // ------------------------------------------------------------- impacts

  def impactSchema(h: Header): StructType =
    StructType(
      Seq(StructField("chrom", StringType),
        StructField("pos", LongType, nullable = false),
        StructField("ref", StringType),
        StructField("alt", StringType)) ++
        h.annFields.map(f => StructField(sanitize(f), StringType)) ++
        Seq(StructField("severity_rank", IntegerType, nullable = false),
          StructField("impact_severity", StringType)))

  /** CSQ/ANN/BCSQ expansion: one row per (variant-alt, annotation entry),
    * entries `,`-separated, fields `|`-separated with names from the
    * header Description — the reference's `variant_impacts` table.
    */
  def impacts(h: Header, body: Dataset[String]): DataFrame = {
    val schema = impactSchema(h)
    val key = h.annKey.getOrElse(
      throw new IllegalArgumentException("no CSQ/ANN/BCSQ INFO field in header"))
    val fields = h.annFields
    val alleleIx = fields.indexWhere(f => f == "Allele" || f == "ALLELE")
    val consIx = fields.indexWhere(f => f.equalsIgnoreCase("Consequence") ||
      f.equalsIgnoreCase("Annotation"))
    implicit val enc = RowEncoder.encoderFor(schema)
    body.filter(isBodyLine _).mapPartitions(_.flatMap { l =>
      val rec = parseRecord(l)
      rec.info.get(key).toSeq.flatMap(_.split(',')).flatMap { entry =>
        // pad short entries, drop extras beyond the header's field list
        // (a malformed entry must not break the row arity)
        val vals = entry.split('|').padTo(fields.length, "").take(fields.length)
        val cons = if (consIx >= 0) vals(consIx).split('&').head else ""
        val rank = severityRank.getOrElse(cons, 99)
        val sev = severityBucket(cons)
        // attach the entry to the alt its Allele field names — raw ALT
        // or VEP's minimised form (indel entries carry the latter; raw
        // matching alone silently drops every indel annotation). All
        // alts if the annotation has no Allele column.
        val alts =
          if (alleleIx >= 0) rec.alts.filter(a =>
            vals(alleleIx) == a || vals(alleleIx) == vepAllele(rec.ref, a))
          else rec.alts
        alts.map(alt => Row.fromSeq(
          Seq(rec.chrom, rec.pos, rec.ref, alt) ++ vals ++ Seq(rank, sev)))
      }
    })
  }

  // ------------------------------------------------------------ entry API

  def headerOf(lines: Seq[String]): Header = parseHeader(lines)

  /** impacts when the header declares an annotation key; an EMPTY
    * impacts table (fixed columns only) otherwise — an unannotated VCF
    * is a legal input, not an error.
    */
  private def maybeImpacts(spark: SparkSession, h: Header,
      body: Dataset[String]): DataFrame =
    if (h.annKey.isDefined) impacts(h, body)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], impactSchema(h))

  /** Reads a VCF from literal lines (tests / fixtures). */
  def fromLines(spark: SparkSession, lines: Seq[String]): (Header, DataFrame, DataFrame) = {
    import spark.implicits._
    val h = parseHeader(lines)
    val body = spark.createDataset(lines.filter(isBodyLine))
    (h, variants(h, body), maybeImpacts(spark, h, body))
  }

  /** Reads a VCF file path: header via `VcfIo.headerLines`, the same
    * bounded, gunzipping read the DSv2 source uses (spark.read.textFile
    * decompresses `.gz` bodies, so the header read must too or a
    * compressed input would silently parse garbage header bytes into an
    * empty schema), body as a distributed text scan.
    */
  def fromPath(spark: SparkSession, path: String): (Header, DataFrame, DataFrame) = {
    import spark.implicits._
    val headerLines = VcfIo.headerLines(path, spark.sessionState.newHadoopConf())
    require(headerLines.exists(_.startsWith("#CHROM")),
      s"$path: no #CHROM header line — not a VCF (or header not at file start)")
    val h = parseHeader(headerLines)
    val body = spark.read.textFile(path)
    (h, variants(h, body), maybeImpacts(spark, h, body))
  }

  // ------------------------------------------------------ cohort merge

  /** The ten per-sample genotype array columns of `variants`. */
  private val gtArrayCols = Seq("gt_types", "gts", "gt_depths",
    "gt_ref_depths", "gt_alt_depths", "gt_quals", "gt_phred_ll_homref",
    "gt_phred_ll_het", "gt_phred_ll_homalt", "gt_phases")

  /** bcftools-merge semantics over N per-sample/sharded single-cohort
    * VCFs with DISJOINT sample sets — the ETL step that PRODUCES the
    * one pre-merged cohort VCF the reference assumes as input (at
    * biobank scale producing that input is the hard step):
    *
    *  - merged sample order = shard order, then within-shard order
    *    (bcftools' file-order rule); duplicate sample ids fail loudly
    *    (bcftools errors without --force-samples);
    *  - sites union at the DECOMPOSED (chrom, pos, ref, alt) grain —
    *    graft decomposes every input, so allele unification is exact
    *    key equality (`bcftools merge -m none` on decomposed shards);
    *  - a shard absent at a site contributes missing genotypes: GT
    *    "./.", class UNKNOWN=2, numeric sentinel -1, phase 0;
    *  - site fields: vid and filter from the LOWEST shard carrying the
    *    site, qual = max across carriers (bcftools' QUAL rule);
    *  - the six genotype stats (call_rate, aaf, num_*) are RECOMPUTED
    *    over the merged cohort; INFO columns are dropped (bcftools
    *    recomputes INFO at merge — for graft the genotype-derived
    *    stats ARE that recomputation; header-driven INFO re-annotation
    *    composes behind via e53's allele-keyed annotate).
    *
    * Scale shape: ONE partial-agg shuffle keyed on the constant-width
    * variant key. Per-shard arrays travel as (shard → array) map
    * entries (collect_list bounded by the shard count), and the merged
    * arrays assemble in a post-agg projection that concatenates the k
    * per-shard slots with literal missing fills — expression width is
    * O(k·arrays), fine for the tens-to-hundreds of shards real cohorts
    * ship (per-center / per-chromosome); the FACT never self-joins and
    * no task ever holds more than one site's k arrays.
    *
    * Ref: bcftools merge (samtools.github.io/bcftools) — union sites,
    * file-order samples, missing → "./."; vcf2db assumes this step
    * already ran (SURVEY §1: "requires a decomposed VCF").
    */
  def mergeVariants(shards: Seq[(Header, DataFrame)]): (Vector[String], DataFrame) = {
    import org.apache.spark.sql.functions._
    require(shards.nonEmpty, "mergeVariants: no shards")
    val sampleLists = shards.map(_._1.samples).toVector
    val merged = sampleLists.flatten
    require(merged.distinct.size == merged.size,
      s"duplicate sample ids across shards: ${
        merged.groupBy(identity).collect { case (s, v) if v.size > 1 => s }.mkString(",")}")
    val k = shards.size
    val keyCols = Seq("chrom", "pos", "ref", "alt")
    val tagged = shards.zipWithIndex.map { case ((_, df), i) =>
      df.select((keyCols ++ Seq("vid", "qual", "filter")).map(col) ++
        Seq(lit(i).as("shard")) ++ gtArrayCols.map(col): _*)
    }.reduce(_.unionByName(_))
    // lowest-carrying-shard pick: min_by over the shard index, with a
    // null value demoted past every real shard so "first non-null by
    // shard order" and "null only when all null" both hold
    def firstByShard(c: String) =
      min_by(col(c), when(col(c).isNull, lit(Int.MaxValue))
        .otherwise(col("shard"))).as(c)
    val aggCols = Seq(firstByShard("vid"), max("qual").as("qual"),
      firstByShard("filter")) ++
      gtArrayCols.map(c =>
        map_from_entries(collect_list(struct(col("shard"), col(c)))).as(c + "_m"))
    val grouped = tagged.groupBy(keyCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    // per-shard missing fills (typed literals, one per array column)
    def fills(c: String): Seq[org.apache.spark.sql.Column] = sampleLists.map { ss =>
      c match {
        case "gts" => typedLit(Vector.fill(ss.size)("./."))
        case "gt_types" => typedLit(Vector.fill(ss.size)(VcfParser.Unknown))
        case "gt_phases" => typedLit(Vector.fill(ss.size)(0))
        case _ => typedLit(Vector.fill(ss.size)(-1))
      }
    }
    val assembled = grouped.select(
      (keyCols ++ Seq("vid", "qual", "filter")).map(col) ++
        gtArrayCols.map { c =>
          val f = fills(c)
          concat((0 until k).map(i =>
            coalesce(element_at(col(c + "_m"), lit(i)), f(i))): _*).as(c)
        }: _*)
    val n = merged.size
    val called = lit(n) - col("num_unknown")
    val altCopies = col("num_het") + lit(2) * col("num_hom_alt")
    val out = assembled
      .withColumn("num_hom_ref",
        size(filter(col("gt_types"), t => t === lit(VcfParser.HomRef))))
      .withColumn("num_het",
        size(filter(col("gt_types"), t => t === lit(VcfParser.Het))))
      .withColumn("num_hom_alt",
        size(filter(col("gt_types"), t => t === lit(VcfParser.HomAlt))))
      .withColumn("num_unknown",
        size(filter(col("gt_types"), t => t === lit(VcfParser.Unknown))))
      .withColumn("call_rate", called.cast("double") / lit(n.toDouble))
      .withColumn("aaf", when(called === 0, lit(0.0))
        .otherwise(altCopies.cast("double") / (called * 2).cast("double")))
      .select((fixedFields.map(_.name) ++ statFields.map(_.name)).map(col): _*)
    (merged, out)
  }

  /** Streaming ingestion — incremental cohort loading: new VCF shards
    * dropped into `dir` parse into a STREAMING variants DataFrame
    * (`writeStream` to the warehouse sink of choice). The schema comes
    * from a static header template, and the guard the batch DSv2
    * source enforces holds here too: a shard whose #CHROM line (sample
    * columns!) differs from the template fails the micro-batch instead
    * of silently mis-assigning genotypes positionally. The per-line
    * parse is stateless (the `variants` map works unchanged on a
    * streaming Dataset), so no state store is involved and append mode
    * works with any sink.
    */
  def streamVariants(spark: SparkSession, headerLines: Seq[String],
      dir: String): DataFrame = {
    import spark.implicits._
    val chromLine = headerLines.find(_.startsWith("#CHROM")).getOrElse(
      throw new IllegalArgumentException("header template has no #CHROM line"))
    // the same guard the batch DSv2 source enforces: a shard whose
    // sample columns OR INFO/FORMAT declarations differ from the
    // template fails the micro-batch loudly — a mismatched Number/Type
    // would otherwise silently null-out every cell of that field
    val declared = headerLines.filter(l =>
      l.startsWith("##INFO=") || l.startsWith("##FORMAT=")).toSet
    val checked = spark.readStream.textFile(dir).map { l =>
      if (l.startsWith("#CHROM") && l != chromLine)
        throw new IllegalStateException(
          s"VCF shard header mismatch: expected '$chromLine' got '$l'")
      if ((l.startsWith("##INFO=") || l.startsWith("##FORMAT=")) &&
        !declared.contains(l))
        throw new IllegalStateException(
          s"VCF shard declares a field the header template does not: '$l'")
      l
    }
    variants(parseHeader(headerLines), checked)
  }
}
