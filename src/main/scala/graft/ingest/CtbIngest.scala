package graft.ingest

import graft.schema.CtbSchema
import graft.schema.CtbSchema._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of ingesting one CTB file.
  *
  * @param clean   typed rows that survived validation (the rows the reference
  *                would insert into the sink, reference main.py:413-414), all
  *                21 canonical columns: one the header lacks is all nulls
  * @param errors  one row per recorded error string (reference accumulates
  *                human-readable strings, main.py:367-368; here a DataFrame so
  *                the error channel scales past driver memory)
  * @param fileFailed whole-file failure (empty file / unknown header), the
  *                reference's "move to Failed" outcomes (main.py:290-295,353-364)
  * @param failureReason populated when fileFailed
  */
case class IngestResult(
    clean: DataFrame,
    errors: DataFrame,
    fileFailed: Boolean,
    failureReason: Option[String])

/** Distributed re-expression of the reference's TSV ingest loop
  * (reference main.py:287-414). The reference materializes the whole file in
  * driver memory and loops row-at-a-time; here the file is a line-delimited
  * text scan and every per-row rule is a Catalyst expression, so the same
  * semantics run partition-parallel over arbitrarily large files.
  *
  * Semantics matched 1:1 (SURVEY §2-A B1-B13):
  *   B1  empty / header-only file        -> whole file Failed
  *   B3  header cleaning                 -> driver-side on the header row only
  *   B4  header -> canonical rename
  *   B5  unknown header                  -> whole file Failed
  *   B6  row width != header width       -> row skipped + error recorded
  *   B7  every field trimmed
  *   B8  empty string -> NULL (before casting)
  *   B9  INTEGER: strip "," then cast; failure -> error + row flagged
  *   B10 DATE: strict yyyy-MM-dd; failure -> error + row flagged
  *   B12 any flagged row is DROPPED (not inserted null-padded) — neither
  *       PERMISSIVE nor DROPMALFORMED reproduces this; composed by hand
  *   B13 errors accumulate with 1-based line numbers + row content
  */
object CtbIngest {

  private val LINE = "_line"
  private val LINENO = "_lineno"

  /** Ingest ONE TSV file from `path` (local or any Hadoop FS): the one-file
    * view of [[ingestMany]]. `clean` has the full 21-column canonical schema
    * (no `_src_file`), `errors` the single `error` column. A path that
    * lists more than one file fails as a whole.
    */
  def ingestFile(spark: SparkSession, path: String): IngestResult = {
    val listed = listFiles(spark, path)
    val res =
      if (listed.size <= 1) ingestListed(spark, path, listed)
      else MultiIngestResult(emptyFrame(spark, cleanSchema), emptyFrame(spark, errorSchema),
        Map(path -> s"Expected exactly one input file, got multiple: ${listed.take(3).map(_.getPath).mkString(", ")} ..."))
    IngestResult(res.clean.drop(SRC_FILE), res.errors.select(col("error")),
      res.fileFailed.nonEmpty, res.fileFailed.values.headOption)
  }

  /** B6-B13 row rules over numbered lines: width check, trim, null-if-empty,
    * typed casts, row-drop, error strings. `keyCols` (the source-file
    * column) ride through to both outputs.
    */
  private def applyRowRules(
      numbered: DataFrame,
      canonical: Seq[String],
      keyCols: Seq[String]): (DataFrame, DataFrame) = {
    val ncols = canonical.length
    val parts = split(col(LINE), "\t", -1)
    val widthOk = size(parts) === ncols
    val keys = keyCols.map(col)

    // B6 errors: wrong width -> skip row, record error with line number+content.
    val widthErrors = numbered
      .filter(!widthOk)
      .select(keys :+ concat(
        lit("Row "), col(LINENO),
        lit(s" has incorrect number of columns. Expected $ncols, got "), size(parts),
        lit(". Row content: "), col(LINE)).as("error"): _*)

    // B7+B8: trim each field, empty -> NULL. Trim is WHITESPACE-exact
    // (python str.strip()), not Spark trim's spaces-only: a CRLF file
    // leaves "\r" on every row's last field, which space-trim would feed
    // into the date/int casts and silently drop every row (B12).
    def wsTrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")
    val wide = numbered
      .filter(widthOk)
      .select(keys ++ (col(LINENO) +: canonical.zipWithIndex.map { case (name, i) =>
        nullif(wsTrim(parts.getItem(i)), lit("")).as(name)
      }): _*)

    // B9/B10: typed casts. For each typed column build (value, ok) pairs.
    // try_* keeps this ANSI-safe (Spark 4 defaults to ANSI mode).
    def castCol(name: String): (Column, Column, Column) = columnTypes(name) match {
      case CtbString =>
        (col(name), lit(true), lit(null).cast(StringType))
      case CtbInt =>
        val v = regexp_replace(col(name), ",", "").try_cast("long")
        val ok = col(name).isNull || v.isNotNull
        val err = concat(lit(s"Row "), col(LINENO),
          lit(s": Could not convert '"), col(name), lit(s"' to INTEGER for column '$name'."))
        (v, ok, err)
      case CtbDate =>
        // Strict %Y-%m-%d: try_to_date with explicit pattern (Spark's
        // CORRECTED parser policy rejects out-of-range components).
        val v = try_to_date(col(name), "yyyy-MM-dd")
        val ok = col(name).isNull || v.isNotNull
        val err = concat(lit(s"Row "), col(LINENO),
          lit(s": Could not parse date '"), col(name), lit(s"' for column '$name' (expected yyyy-MM-dd)."))
        (v, ok, err)
    }

    val casts = canonical.map(n => n -> castCol(n)).toMap
    val rowOk = casts.values.map(_._2).reduce(_ && _)

    // B13: cast errors, one row per failing field.
    val castErrors = wide
      .select(keys :+ array(canonical.map { n =>
        val (_, ok, err) = casts(n)
        when(!ok, err).otherwise(lit(null))
      }: _*).as("errs"): _*)
      .select(keys :+ explode(col("errs")).as("error"): _*)
      .filter(col("error").isNotNull)

    // B12: the row-drop rule — keep a row iff every typed column either was
    // NULL/empty in the source or cast successfully.
    val clean = wide
      .filter(rowOk)
      .select(keys ++ canonical.map(n => casts(n)._1.as(n)): _*)

    (clean, widthErrors.unionByName(castErrors))
  }

  /** Result of ingesting a whole set of files as one distributed plan.
    *
    * @param clean       surviving rows, full canonical schema, plus a
    *                    `_src_file` column for per-file accounting
    * @param errors      per-row error strings with their `_src_file`
    * @param fileFailed  whole-file failures (B1 empty / header-only, B5
    *                    unknown header): file path -> reason
    */
  final case class MultiIngestResult(
      clean: DataFrame,
      errors: DataFrame,
      fileFailed: Map[String, String])

  val SRC_FILE = "_src_file"

  /** Ingest MANY TSV files (glob / directory / comma-free path list) in
    * O(#distinct-header-layouts) Spark jobs instead of O(#files).
    *
    * 0-byte files contribute no scan rows, so the distributed stats pass
    * cannot see them ([[ingestManyLines]]'s documented blindness); this
    * path owns the listing, so it closes the gap directly: matched files
    * with zero length are reported in `fileFailed` as B1 "File is empty"
    * (keyed by their qualified path).
    */
  def ingestMany(spark: SparkSession, pathOrGlob: String): MultiIngestResult =
    ingestListed(spark, pathOrGlob, listFiles(spark, pathOrGlob))

  private def ingestListed(
      spark: SparkSession, pathOrGlob: String,
      listed: Seq[FileStatus]): MultiIngestResult = {
    val res = ingestManyLines(spark, spark.read.text(pathOrGlob))
    val zero = listed.filter(_.getLen == 0)
      .map(st => scanKey(st.getPath) -> "File is empty") // B1
    if (zero.isEmpty) res else res.copy(fileFailed = res.fileFailed ++ zero)
  }

  /** The files under `pathOrGlob`: every glob match, a matched directory
    * replaced by its files (its whole tree when `recursive`) except hidden
    * `_*`/`.*` names, which a Spark scan of the directory skips too; no
    * match lists as empty. Every 0-byte check (files a text scan cannot
    * see) reads it.
    */
  def listFiles(spark: SparkSession, pathOrGlob: String, recursive: Boolean = false): Seq[FileStatus] = {
    val p = new Path(pathOrGlob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).getOrElse(Array.empty).toSeq.flatMap { st =>
      if (!st.isDirectory) Seq(st)
      else {
        val it = fs.listFiles(st.getPath, recursive)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus)
          .filterNot(f => "_.".contains(f.getPath.getName.head)).toSeq
      }
    }
  }

  /** The exact string `input_file_name()` yields for `path`, so zero-byte
    * entries share one key format with the scan-derived ones (callers match
    * `fileFailed` keys against scan-derived paths). Spark renders file URIs
    * with an explicit EMPTY authority (`file:///tmp/x`), which no Hadoop
    * `Path`/`makeQualified` stringification produces (`file:/tmp/x`) —
    * rebuild the URI with `authority = ""` to match.
    */
  private def scanKey(p: Path): String = {
    val u = p.toUri
    if (u.getScheme == null) p.toString
    else new java.net.URI(u.getScheme,
      Option(u.getAuthority).getOrElse(""), u.getPath, null, null).toString
  }

  /** The ingest core: the B1-B13 semantics, applied per source file,
    * driven by ONE stats pass and one header-collection pass.
    *
    * How it scales past the sequential per-file driver loop:
    *   1. per-(file, partition) stats — counts, min id, min/max non-blank
    *      id — come from one aggregation (a few rows per partition);
    *      per-file line numbers are then `_mid + adjust(file, partition)`,
    *      without a global sort (a no-partition Window would force a whole
    *      file through one task). Within one file, text splits are read in
    *      file-offset order and keep it under Spark's stable size-descending
    *      packing, so partition-id order is line order (the assumption the
    *      reference's enumerate() makes of its in-memory list); rows of
    *      different files never share a (file, partition) key ordering
    *      problem because a partition reads its files sequentially.
    *   2. all header lines are fetched in ONE filter keyed by the per-file
    *      header coordinates from (1) — not one driver round-trip per file.
    *   3. files are grouped by canonical header layout; each group runs the
    *      shared row-rule pipeline once, with per-file line offsets and
    *      bounds applied via literal lookup maps. In the common case (every
    *      file shares the CTB layout) the whole batch is ONE plan.
    *
    * Whole-file failures (empty, header-only, unknown columns) affect only
    * their file and are reported in `fileFailed`.
    *
    * The literal lookup maps grow with #files × #partitions-per-file —
    * bounded in streaming use by `maxFilesPerTrigger`; a millions-of-files
    * backfill would chunk the listing and loop this per chunk.
    *
    * Caveat: a 0-BYTE file contributes no scan rows, so it is invisible to
    * THIS DataFrame-entry point (no `fileFailed` entry) — the caller owns
    * the file listing and must diff it against the results ([[ingestMany]]
    * and the streaming drain both do, through [[listFiles]]).
    */
  def ingestManyLines(spark: SparkSession, raw: DataFrame): MultiIngestResult = {
    // "blank" must match the reference's str.strip(): ALL whitespace (tabs
    // included), not Spark trim's spaces-only — a trailing "\t \t " line
    // must vanish in the file-level strip, and a leading one must not be
    // mistaken for the header. rlike("\\S") is exactly "has any
    // non-whitespace char".
    val nonblank = col("value").rlike("\\S")
    val ids = raw.select(col("value"),
      spark_partition_id().as("_pid"), monotonically_increasing_id().as("_mid"),
      input_file_name().as("_file"))

    // (1) one stats pass, keyed by (file, partition)
    val statRows = ids.groupBy(col("_file"), col("_pid")).agg(
        count(lit(1)).as("n"), min(col("_mid")).as("m0"),
        min(when(nonblank, col("_mid"))).as("nbMin"),
        max(when(nonblank, col("_mid"))).as("nbMax"))
      .collect()

    val failures = scala.collection.mutable.Map[String, String]()

    // per-file chunk bookkeeping -> adjust / header / last line numbers
    final case class FileMeta(
        adjust: Map[Int, Long], hdrLineno: Long, lastLineno: Long,
        hdrPid: Int, hdrMid: Long)
    val metas: Map[String, FileMeta] = statRows.groupBy(_.getString(0)).flatMap {
      case (file, rows) =>
        val chunks = rows.map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getLong(5))))
          .sortBy(_._1) // pid order = offset order within one file (see above)
        if (chunks.forall(_._4.isEmpty)) {
          failures(file) = "File is empty" // B1
          None
        } else {
          var off = 0L
          val adjust = chunks.map { case (pid, n, m0, _, _) =>
            val a = off - m0 + 1; off += n; (pid, a)
          }.toMap
          // The reference strips the WHOLE file before splitting
          // (main.py:287-288): leading/trailing blank lines vanish, interior
          // ones survive and hit the width check. Header = first non-blank
          // line; numbering is relative to it (enumerate start=2).
          val hdr = chunks.collect { case (pid, _, _, Some(nb), _) => (pid, nb) }
            .minBy { case (pid, nb) => nb + adjust(pid) }
          val hdrLineno = hdr._2 + adjust(hdr._1)
          val lastLineno = chunks
            .collect { case (pid, _, _, _, Some(nb)) => nb + adjust(pid) }.max
          if (lastLineno == hdrLineno) {
            failures(file) = "File contains no data rows" // B1
            None
          } else Some(file -> FileMeta(adjust, hdrLineno, lastLineno, hdr._1, hdr._2))
        }
    }

    // (2) all headers in one filter/collect
    val headerLines: Map[String, String] =
      if (metas.isEmpty) Map.empty
      else ids.filter(metas.map { case (f, m) =>
          col("_file") === f && col("_pid") === m.hdrPid && col("_mid") === m.hdrMid
        }.reduce(_ || _))
        .select(col("_file"), col("value")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap

    // B3+B4+B5 per file; group survivors by canonical layout
    val canonicalByFile: Map[String, Seq[String]] = headerLines.flatMap {
      case (file, line) =>
        val canonical = line.split("\t", -1).toSeq.map(CtbSchema.canonicalName)
        val unknown = canonical.filterNot(columnTypes.contains)
        if (unknown.nonEmpty) {
          failures(file) = s"Schema mismatch. Unknown columns: ${unknown.mkString(", ")}" // B5
          None
        } else Some(file -> canonical)
    }

    // (3) one row-rule plan per distinct layout
    val groups = canonicalByFile.groupBy(_._2).toSeq.map {
      case (canonical, fileMap) =>
        val files = fileMap.keys.toSeq
        val relAdjust = files.flatMap { f =>
          val m = metas(f)
          m.adjust.map { case (pid, a) => s"$f#$pid" -> (a - m.hdrLineno + 1) }
        }.toMap
        val lastRel = files.map(f => f -> (metas(f).lastLineno - metas(f).hdrLineno + 1)).toMap
        val numbered = ids
          .filter(col("_file").isin(files: _*))
          .withColumn(LINENO, col("_mid") +
            element_at(typedlit(relAdjust), concat(col("_file"), lit("#"), col("_pid"))))
          .filter(col(LINENO) > 1)                                      // rows after the header
          .filter(col(LINENO) <= element_at(typedlit(lastRel), col("_file"))) // strip trailing blanks
          .withColumnRenamed("value", LINE)
          .withColumnRenamed("_file", SRC_FILE)
          .drop("_pid", "_mid")
        applyRowRules(numbered, canonical, keyCols = Seq(SRC_FILE))
    }

    // the full-schema empty frame leads: absent columns union in as nulls
    MultiIngestResult(
      clean = groups.map(_._1)
        .foldLeft(emptyFrame(spark, cleanSchema))(_.unionByName(_, allowMissingColumns = true)),
      errors = groups.map(_._2).foldLeft(emptyFrame(spark, errorSchema))(_ unionByName _),
      fileFailed = failures.toMap)
  }

  /** Type-safe view of a clean result: a Dataset[CtbRecord] for callers
    * that want compile-time column/type checking downstream (columns absent
    * from the file's header are None).
    */
  def typed(res: IngestResult): org.apache.spark.sql.Dataset[graft.schema.CtbRecord] = {
    val spark = res.clean.sparkSession
    import spark.implicits._
    res.clean.select(canonicalColumns.map(col): _*).as[graft.schema.CtbRecord]
  }

  private val cleanSchema = StructType(StructField(SRC_FILE, StringType) +: sparkSchema.fields)
  private val errorSchema = StructType(Seq(StructField(SRC_FILE, StringType), StructField("error", StringType)))

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
}
