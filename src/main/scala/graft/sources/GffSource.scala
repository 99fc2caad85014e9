package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GFF3-style line scan (reference: index_builder/core.rs:54-138) as a
  * declarative Spark source: read text, keep a stable line ordinal, skip
  * comments/blanks, split 9 tab fields, regex-extract ID/Parent/attr,
  * normalize coordinates. Catalyst prunes/pushes everything; the only
  * shuffle in the whole parse is the (optional) global sort that assigns
  * dense fids.
  */
object GffSource {

  /** Default feature types dropped at index time
    * (reference: commands/index.rs:18-19).
    */
  val DefaultSkipTypes: Seq[String] = Seq("remark", "note", "comment", "region",
    "gap", "assembly_gap", "contig", "scaffold", "source")

  /** Parse a GFF3 text file into a normalized feature DataFrame:
    * (line_no, seqid, source, ftype, start, end, score, strand, phase,
    *  attrs, id, parent, attr) with:
    *  - start>end swapped (core.rs:107), end==0 dropped (core.rs:104-106),
    *  - 1-based closed -> 0-based half-open [start-1, end) (core.rs:108-109),
    *  - comment/blank lines skipped (core.rs:79-81),
    *  - skip_types filter (core.rs:47,95-100),
    *  - ID=/Parent=/<attrKey>= regex extraction (core.rs:43-45,112-127).
    */
  def parse(spark: SparkSession, path: String, attrKey: String = "gene_name",
      skipTypes: Seq[String] = DefaultSkipTypes, minPartitions: Int = 0): DataFrame = {
    // Total-order line ordinal from the file's own line order: zipWithIndex
    // over the text RDD. Hadoop text splits are contiguous byte ranges in
    // file order, so the index IS the file line number at ANY parallelism —
    // unlike monotonically_increasing_id, which SURVEY.md §1.4 bans for id
    // assignment (partition-layout-dependent). Costs one extra lightweight
    // job (per-partition line counts) at index time only.
    val src =
      if (minPartitions > 0) spark.sparkContext.textFile(path, minPartitions)
      else spark.sparkContext.textFile(path)
    val raw = spark.createDataFrame(
      src.zipWithIndex().map { case (v, i) =>
        org.apache.spark.sql.Row(i, v)
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line_no",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType, nullable = true))))
    parseLines(raw, attrKey, skipTypes)
  }

  /** Parse pre-split GFF text lines carrying an explicit total-order
    * `line_no` column — the file-free front-end (deterministic fixtures,
    * already-loaded corpora). Same normalize semantics as [[parse]].
    */
  def parseLines(raw: DataFrame, attrKey: String = "gene_name",
      skipTypes: Seq[String] = DefaultSkipTypes): DataFrame = {
    val f = raw
      .where(!col("value").startsWith("#") && length(trim(col("value"))) > 0)
      .withColumn("p", split(col("value"), "\t"))
      .where(size(col("p")) === 9) // exactly 9 fields (core.rs:87-89)
      .select(
        col("line_no"),
        col("p").getItem(0).as("seqid"),
        col("p").getItem(1).as("source"),
        col("p").getItem(2).as("ftype"),
        // try_cast, not cast: under ANSI mode (Spark 4 default) a malformed
        // coordinate would THROW; the contract is cast->null->filter (P8)
        expr("try_cast(p[3] AS LONG)").as("raw_start"),
        expr("try_cast(p[4] AS LONG)").as("raw_end"),
        col("p").getItem(5).as("score"),
        col("p").getItem(6).as("strand"),
        col("p").getItem(7).as("phase"),
        col("p").getItem(8).as("attrs"))
      .where(!col("ftype").isin(skipTypes: _*))
      .where(col("raw_start").isNotNull && col("raw_end").isNotNull) // P8 checked parse
      .where(col("raw_end") =!= 0) // end==0 dropped (core.rs:104-106)
      // swap reversed coords, then 1-closed -> 0-half-open
      .withColumn("start", least(col("raw_start"), col("raw_end")) - 1)
      .withColumn("end", greatest(col("raw_start"), col("raw_end")))
      .drop("raw_start", "raw_end")
      // r6: ONE fused byte scan (functions.GffAttrs) replaces the three
      // regexp_extract engine runs per row. Exact same semantics as
      // `ID=([^;\s]+)` / `Parent=([^;\s]+)` / `<attrKey>=([^;]+)` with
      // the nullIfEmpty contract — equality-fuzzed against the regex
      // formulation in GffSourceSpec.
      .withColumn("__ga", graft.functions.TextHash.gff_attrs(col("attrs"), attrKey))
      .withColumn("id", col("__ga.id"))
      .withColumn("parent", col("__ga.parent"))
      .withColumn("attr", col("__ga.attr"))
      .drop("__ga")
    f
  }

  /** The pre-r6 regex formulation of the attribute extraction — kept as
    * the executable spec the fused expression is equality-tested against
    * (same pattern as Dedup.simHashHof / TextOps.tokenizeHof).
    */
  def attrRegexSpec(df: DataFrame, attrKey: String = "gene_name"): DataFrame =
    df.withColumn("id_spec", nullIfEmpty(regexp_extract(col("attrs"), "ID=([^;\\s]+)", 1)))
      .withColumn("parent_spec", nullIfEmpty(regexp_extract(col("attrs"), "Parent=([^;\\s]+)", 1)))
      .withColumn("attr_spec",
        nullIfEmpty(regexp_extract(col("attrs"), java.util.regex.Pattern.quote(attrKey) + "=([^;]+)", 1)))

  private def nullIfEmpty(c: org.apache.spark.sql.Column) =
    when(length(c) > 0, c)

  /** S2 — BED region scan (reference: commands/intersect.rs:201-230):
    * whitespace-split (chrom, start, end), half-open coords as-is, other
    * columns ignored; malformed rows dropped (cast -> null -> filter).
    */
  def readBed(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .where(length(trim(col("value"))) > 0 && !col("value").startsWith("#"))
      .withColumn("p", split(col("value"), "\\s+"))
      .where(size(col("p")) >= 3)
      .select(
        col("p").getItem(0).as("seqid"),
        expr("try_cast(p[1] AS LONG)").as("start"),
        expr("try_cast(p[2] AS LONG)").as("end"))
      .where(col("start").isNotNull && col("end").isNotNull && col("start") < col("end"))

  /** S5 — feature-name list file: one name per line, trimmed, blanks and
    * comment lines dropped (reference: extract.rs:61-79).
    */
  def readNameList(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(trim(col("value")).as("name"))
      .where(length(col("name")) > 0 && !col("name").startsWith("#"))

  /** S6 — attribute-value list file, same shape (search.rs:76-87). */
  def readValueList(spark: SparkSession, path: String): DataFrame =
    readNameList(spark, path).withColumnRenamed("name", "attr")

  /** S4 — single region literal `chr:start-end` (intersect.rs:172-198). */
  def parseRegion(literal: String): (String, Long, Long) = {
    val m = "^(.+):(\\d+)-(\\d+)$".r.findFirstMatchIn(literal)
      .getOrElse(throw new IllegalArgumentException(s"bad region literal: $literal"))
    val (s, e) = (m.group(2).toLong, m.group(3).toLong)
    require(s < e, s"region start must be < end: $literal")
    (m.group(1), s, e)
  }

  /** M5 — header passthrough: leading `#` lines (common.rs:131-143). */
  def headerLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).where(col("value").startsWith("#"))

  /** S11 — TSV result sink (coverage.rs:453-490, depth.rs:515-545). */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(path)
}
