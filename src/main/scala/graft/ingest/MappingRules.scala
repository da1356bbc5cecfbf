package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The tabular-import mapping-rule DSL (SURVEY §2.2, P1–P16; reference
  * `utilities/data_import/dig_tabular_import.py`) re-expressed as
  * composable `DataFrame => DataFrame` transforms.
  *
  * Every rule is built from Catalyst expressions (no UDFs): the whole
  * rule chain stays a narrow projection over the scan — embarrassingly
  * parallel at 100 TB, fully inside WholeStageCodegen, with column
  * pruning/pushdown intact.
  */
object MappingRules {

  /** P4 remove_fields (dig_tabular_import.py:229-231). */
  def removeFields(cols: Seq[String])(df: DataFrame): DataFrame =
    df.drop(cols: _*)

  /** P5 trim whitespace on all string columns
    * (dig_tabular_import.py:444-447, default on).
    */
  def trimWhitespace(df: DataFrame): DataFrame = {
    val projected = df.schema.fields.map { f =>
      if (f.dataType.typeName == "string") trim(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** P6 remove_blank_fields: blank strings → null
    * (dig_tabular_import.py:255-263, default on).
    */
  def blankToNull(df: DataFrame): DataFrame = {
    val projected = df.schema.fields.map { f =>
      if (f.dataType.typeName == "string")
        when(length(trim(col(f.name))) > 0, col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** P7 delete-by-value: per-column blacklist → null
    * (dig_tabular_import.py:236-241; test_cell_values_deletion.py).
    */
  def deleteValues(rules: Map[String, Seq[String]])(df: DataFrame): DataFrame =
    rules.foldLeft(df) { case (d, (c, vals)) =>
      d.withColumn(c, when(col(c).isin(vals: _*), lit(null)).otherwise(col(c)))
    }

  /** P8 decoding_dict: dictionary recode with default_action
    * preserve|delete for unmapped values (dig_tabular_import.py:265-288;
    * test_decode_dict.py). Small dicts compile to a when-chain (codegen);
    * use [[decodeDictJoin]] for large dictionaries.
    */
  def decodeDict(column: String, dict: Map[String, String],
                 defaultPreserve: Boolean = true)(df: DataFrame): DataFrame = {
    val chain = dict.foldLeft(null.asInstanceOf[Column]) { case (acc, (k, v)) =>
      if (acc == null) when(col(column) === k, lit(v))
      else acc.when(col(column) === k, lit(v))
    }
    val decoded =
      if (chain == null) col(column)
      else if (defaultPreserve) chain.otherwise(col(column))
      else chain // unmapped → null (delete)
    df.withColumn(column, decoded)
  }

  /** P8 at scale: broadcast-join against a 2-column dict table. */
  def decodeDictJoin(column: String, dict: DataFrame,
                     defaultPreserve: Boolean = true)(df: DataFrame): DataFrame = {
    val d = broadcast(dict.select(
      col(dict.columns(0)).as("__dk"), col(dict.columns(1)).as("__dv")))
    val joined = df.join(d, col(column) === col("__dk"), "left")
    val out =
      if (defaultPreserve) coalesce(col("__dv"), col(column))
      else col("__dv")
    joined.withColumn(column, out).drop("__dk", "__dv")
  }

  /** P9 template concat: "xxx {colA} yyy {colB}" → new column
    * (dig_tabular_import.py:320-342); missing/null refs → ''.
    */
  def template(target: String, pattern: String)(df: DataFrame): DataFrame = {
    val parts = "\\{([^}]+)\\}".r.split(pattern) // literal segments
    val refs = "\\{([^}]+)\\}".r.findAllMatchIn(pattern).map(_.group(1)).toSeq
    val pieces = new scala.collection.mutable.ArrayBuffer[Column]
    for (i <- 0 until math.max(parts.length, refs.length)) {
      if (i < parts.length && parts(i).nonEmpty) pieces += lit(parts(i))
      if (i < refs.length)
        pieces += (if (df.columns.contains(refs(i)))
          coalesce(col(refs(i)).cast("string"), lit("")) else lit(""))
    }
    df.withColumn(target, concat(pieces.toIndexedSeq: _*))
  }

  /** P11 guard predicate: regex test on a column; all guards must pass
    * (dig_tabular_import.py:290-304).
    */
  def guards(rules: Seq[(String, String)])(df: DataFrame): DataFrame =
    rules.foldLeft(df) { case (d, (c, rx)) => d.filter(col(c).rlike(rx)) }

  /** P10 constant columns (dataset_identifier, type, ...)
    * (dig_tabular_import.py:232-234).
    */
  def constants(consts: Map[String, String])(df: DataFrame): DataFrame =
    consts.foldLeft(df) { case (d, (c, v)) => d.withColumn(c, lit(v)) }

  /** P12 nested_configs: group flat columns into a named struct, leftover
    * keys stay top-level (dig_tabular_import.py:412-490).
    */
  def nest(attr: String, cols: Seq[String])(df: DataFrame): DataFrame = {
    val present = cols.filter(df.columns.contains)
    val rest = df.columns.filterNot(present.contains).map(col).toIndexedSeq
    df.select(rest :+ struct(present.map(col): _*).as(attr): _*)
  }

  /** P13 synthesized url/doc identity: url = base + "#" + running id;
    * doc_id = sha256 of url (A6 content-hash ids).
    * Row-number based (matches the reference's running counter,
    * dig_tabular_import.py:358-366); ordering column must be provided
    * to stay deterministic under parallel scan.
    *
    * The reference's counter runs per uploaded file, so the window is
    * partitioned by `input_file_name()` by default — each file's rows
    * sort within their own partition instead of funnelling the whole
    * dataset through one (the 100 TB scale-killer). For non-file frames
    * pass an explicit grouping (or `lit(1)` to accept a global sort on
    * genuinely small inputs).
    */
  def synthesizeIdentity(base: String, orderBy: Seq[Column],
                         perFile: Seq[Column] = Seq(input_file_name()))
                        (df: DataFrame): DataFrame = {
    // The tag keys on ALL partition columns (row numbers restart per
    // full partition tuple — a head-only guard would mint duplicate
    // urls when a later column distinguishes partitions); it drops out
    // when the whole key is empty (single in-memory frame) AND for the
    // common single-file upload under the default partitioning, where
    // the reference's running counter yields plain base#N ids
    // (dig_tabular_import.py:358-366) — detected driver-side from the
    // plan's file listing, no job (ADVICE r2: keep doc_id parity).
    val singleFileDefault = perFile.length == 1 &&
      perFile.head.toString == input_file_name().toString &&
      df.inputFiles.length <= 1
    // Materialize the partition key BEFORE the window: expressions like
    // input_file_name() are only valid inside the file-scan task — in a
    // post-shuffle projection they evaluate to "", silently collapsing
    // the tag. Project it at the scan, window over the materialized
    // column, derive the tag from the same column.
    val partKey = concat_ws("\u0001", perFile.map(_.cast("string")): _*)
    val keyed = df.withColumn("__part_key", partKey)
    val w = Window.partitionBy(col("__part_key")).orderBy(orderBy: _*)
    val fileTag =
      if (singleFileDefault) lit("")
      else when(col("__part_key") === "", lit(""))
        .otherwise(concat(sha2(col("__part_key"), 256).substr(1, 8), lit("-")))
    keyed.withColumn("url",
        concat(lit(base), lit("#"), fileTag, row_number().over(w).cast("string")))
      .withColumn("doc_id", sha2(col("url"), 256))
      .drop("__part_key")
  }

  /** P1 heading-row promotion (dig_tabular_import.py:71-79): when the
    * header is NOT the first line (heading_row > 1), take row N's cells
    * as column names and drop rows ≤ N. Requires a deterministic
    * ordering (file line index).
    */
  def promoteHeaderRow(headingRow: Int, orderBy: Seq[Column],
                       perFile: Seq[Column] = Seq(input_file_name()))
                      (df: DataFrame): DataFrame = {
    // Per-file window (dig_tabular_import.py processes one file at a
    // time): every file numbers its own rows, so no single-partition
    // global sort; the header fetch is a 1-row lookup, not a full-table
    // collect. Multi-file reads assume identical layouts (same header
    // in every file) — true for the reference's per-upload processing.
    val w = Window.partitionBy(perFile: _*).orderBy(orderBy: _*)
    val numbered = df.withColumn("__rn", row_number().over(w))
    val header = numbered.filter(col("__rn") === headingRow)
      .drop("__rn").limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(s"no row $headingRow"))
    val names = df.columns.indices.map { i =>
      Option(header.get(i)).map(_.toString.trim).filter(_.nonEmpty)
        .getOrElse((i + 1).toString)
    }
    numbered.filter(col("__rn") > headingRow)
      .drop("__rn")
      .toDF(names: _*)
  }

  /** P2 row-range slice (dig_tabular_import.py:76-90): content_start_row/
    * content_end_row (1-based, inclusive) over an explicit ordering, and
    * blank_row_ends_content (first all-blank row truncates). The
    * ordering column makes row numbers deterministic under parallel
    * scan (file sources supply a line index).
    */
  def rowRangeSlice(startRow: Int, endRow: Option[Int],
                    blankRowEndsContent: Boolean, orderBy: Seq[Column],
                    perFile: Seq[Column] = Seq(input_file_name()))
                   (df: DataFrame): DataFrame = {
    // Per-file slice semantics (content_start_row is a position within
    // ONE uploaded file, dig_tabular_import.py:76-90) — partitioning by
    // input_file_name() keeps each file's sort local to its partition.
    // The file keys are projected once over the scan: input_file_name()
    // reads "" above a shuffle, so evaluated again by the second window
    // it would merge every file into one partition.
    val keys = perFile.indices.map(i => s"__file$i")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    val stringCols = df.schema.fields.filter(_.dataType.typeName == "string").map(_.name)
    val allBlank =
      if (stringCols.isEmpty) lit(false)
      else stringCols.map(c => length(trim(coalesce(col(c), lit("")))) === 0).reduce(_ && _)
    var out = df
      .select(col("*") +: perFile.zip(keys).map { case (c, k) => c.as(k) }: _*)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__blank", allBlank)
    if (blankRowEndsContent) {
      val wAcc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      out = out
        .withColumn("__blanks_seen", sum(col("__blank").cast("int")).over(wAcc))
        .filter(col("__blanks_seen") === 0)
        .drop("__blanks_seen")
    }
    out = out.filter(col("__rn") >= startRow)
    endRow.foreach(e => out = out.filter(col("__rn") <= e))
    out.drop("__rn" +: "__blank" +: keys: _*)
  }

  /** P3 positional column slice: columns [from, until) renamed "1".."n"
    * (dig_tabular_import.py:166-170).
    */
  def columnSlice(from: Int, until: Int)(df: DataFrame): DataFrame = {
    val picked = df.columns.slice(from, until)
    df.select(picked.zipWithIndex.map { case (c, i) =>
      col(c).as((i + 1).toString)
    }.toIndexedSeq: _*)
  }

  /** P15 field rename / drop cleanup (etk_worker.py:109-113). */
  def renameFields(renames: Map[String, String], drops: Seq[String])(df: DataFrame): DataFrame = {
    val renamed = renames.foldLeft(df) { case (d, (from, to)) =>
      d.withColumnRenamed(from, to)
    }
    renamed.drop(drops: _*)
  }

  /** P16 default mapping generator: column name → field name
    * (lower, non-word → '_'; dig_tabular_import.py:536-581).
    */
  def defaultFieldName(c: String): String =
    c.toLowerCase.replaceAll("\\W+", "_").replaceAll("^_+|_+$", "")

  def applyDefaultMapping(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(s"`$c`").as(defaultFieldName(c))).toIndexedSeq: _*)
}
