package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Sources

/** The reference's actual unit-test fixture run through our rules
  * (utilities/tests/test_cell_values_deletion.py against
  * test_data/delete_cell_input.csv): delete-by-value on path "B 1"
  * with value "delete" must null rows 4 and 5 (0-based 3,4), and the
  * §2.2 pipeline (trim, blank-to-null, template title, constants)
  * composes over the same file. Each check also runs on an inline CSV of
  * the fixture's shape, so it runs where the reference checkout is absent.
  */
class ReferenceFixtureSpec extends SparkSpec {

  private val Fixture = "/root/reference/utilities/tests/test_data/delete_cell_input.csv"

  /** Columns `A, B 1, B-2, C, D, E`, five rows, `E` = 1, 2, 3, 4, SLASH;
    * padded and blank cells for the trim and blank rules to act on.
    */
  private lazy val inline: String = {
    val dir = Files.createTempDirectory("delete-cell")
    dir.toFile.deleteOnExit()
    val csv = dir.resolve("delete_cell_input.csv")
    Files.write(csv, Seq(
      "A,B 1,B-2,C,D,E",
      "this,is,a,delete,test,1",
      " that ,is,  ,another,   ,2",
      "these,are,more,tests,x,3",
      "those,delete,it,all,y,4",
      "this,delete,now,NULL,z,SLASH").mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    csv.toFile.deleteOnExit()
    csv.toString
  }

  private def deleteByValue(path: String): Unit = {
    val raw = Sources.csv(spark, path)
    assert(raw.columns.toSeq == Seq("A", "B 1", "B-2", "C", "D", "E"))
    assert(raw.count() == 5)
    val out = MappingRules.deleteValues(Map("B 1" -> Seq("delete")))(raw)
      .orderBy(col("E"))
    val b1 = out.select(col("`B 1`")).collect().map(r => Option(r.getString(0)))
    // rows with E = 1,2,3 keep values; rows 4 and SLASH had "delete" -> null
    assert(b1.toSeq == Seq(Some("is"), Some("is"), Some("are"), None, None))
  }

  private def mappingPipeline(path: String): org.apache.spark.sql.DataFrame = {
    val pipeline = Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      MappingRules.trimWhitespace(_),
      MappingRules.blankToNull(_),
      MappingRules.deleteValues(Map("B 1" -> Seq("delete")))(_),
      MappingRules.deleteValues(Map("C" -> Seq("NULL")))(_),
      MappingRules.template("title", "{A}: decode test  in {C}")(_),
      MappingRules.constants(Map("dataset_identifier" -> "testdecode"))(_))
      .reduce(_ andThen _)
    val out = pipeline(Sources.csv(spark, path)).orderBy(col("E"))
    val rows = out.collect()
    assert(rows.forall(_.getAs[String]("dataset_identifier") == "testdecode"))
    assert(rows.head.getAs[String]("title") == "this: decode test  in delete")
    // the NULL-string cell nulls out, so its template ref renders empty
    val slash = out.filter(col("E") === "SLASH").collect().head
    assert(slash.getAs[String]("C") == null)
    assert(slash.getAs[String]("title") == "this: decode test  in ")
    out
  }

  test("reference delete-by-value semantics on the original fixture") {
    assume(new java.io.File(Fixture).exists(), "reference fixture not available")
    deleteByValue(Fixture)
  }

  test("delete-by-value semantics on an inline fixture of the reference's shape") {
    deleteByValue(inline)
  }

  test("full mapping-spec pipeline over the fixture (trim, blanks, template, constants)") {
    assume(new java.io.File(Fixture).exists())
    mappingPipeline(Fixture)
  }

  test("full mapping-spec pipeline over an inline fixture (trim, blanks, template, constants)") {
    val row2 = mappingPipeline(inline).filter(col("E") === "2").collect().head
    // the padded cell is trimmed, the blank and all-space cells are null
    assert(row2.getAs[String]("A") == "that")
    assert(row2.getAs[String]("B-2") == null && row2.getAs[String]("D") == null)
    assert(row2.getAs[String]("title") == "that: decode test  in another")
  }
}
