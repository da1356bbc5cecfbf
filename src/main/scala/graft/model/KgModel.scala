package graft.model

import org.apache.spark.sql.types._

/** Knowledge-graph schema system (SURVEY §1.2–1.3; reference
  * `master_config.json` fields loaded as KGSchema, etk_worker.py:35).
  *
  * A project declares typed fields with query-plane metadata
  * (search boosts, facet flags, glossaries). The storage shape is the
  * long-format `KgValue` table — one row per extraction — which gives
  * Parquet predicate pushdown on (field, key) instead of a map blob.
  */
final case class KgFieldDef(
    name: String,
    fieldType: String = "string", // string | date | location | phone | email
    searchImportance: Int = 1,
    showInFacets: Boolean = false,
    freeTextSearch: Boolean = false,
    caseSensitive: Boolean = false,
    glossaries: Seq[String] = Nil)

final case class KgSchema(rootName: String, fields: Seq[KgFieldDef]) {
  def field(name: String): Option[KgFieldDef] = fields.find(_.name == name)

  /** Spark type for a field (SURVEY §1.3 mapping). */
  def sparkType(f: KgFieldDef): DataType = f.fieldType match {
    case "date" => TimestampType
    case _ => StringType // location/phone/email are normalized strings
  }
}

/** One KG extraction value (SURVEY §1.2): provenance carries the
  * extractor method and source segment; `key` is the normalized
  * (high-confidence) form used for facets and filters.
  */
final case class KgValue(
    docId: String,
    field: String,
    value: String,
    key: String,
    method: String,
    segment: String,
    confidence: Double)

object KgValue {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("field", StringType, nullable = false),
    StructField("value", StringType),
    StructField("key", StringType),
    StructField("method", StringType),
    StructField("segment", StringType),
    StructField("confidence", DoubleType)))
}
