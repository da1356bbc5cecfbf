package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 recursive-hierarchy plane: subtree rollups over an
  * implicit binary tree on part keys (parent(p) = p div 2, root 1) —
  * the parts-explosion / org-chart shape a warehouse serves with
  * WITH RECURSIVE.
  *
  * Spark has no recursive CTE; the idiomatic scale path used here is
  * the ancestor-ENUMERATION identity of the key encoding: every
  * ancestor of p is p div 2^k, so the full node→ancestor closure is
  * a ×⌈log₂ maxkey⌉ explode + one hash aggregation — NO join and no
  * iteration at all, where a naive transitive closure loops
  * depth-many self-joins. Depth is length(bin(key)) − 1 (both
  * engines print bin() without leading zeros). The oracle states the
  * same closure non-recursively, making the equivalence checkable.
  */
object Hierarchy {

  /** 2^0 .. 2^30 — full ancestor coverage for keys < 2^31 (~2.1B
    * parts ≈ sf10700 at 200k parts/SF; the 6 extra explode rows over
    * the previous 2^24 bound are negligible, and keys past the bound
    * would silently drop their deep-level contributions).
    */
  private val Shifts: Seq[Long] = (0 to 30).map(1L << _)

  /** Subtree rollup for every node in the top 7 levels (node ≤ 127):
    * descendant count (self included) and total retail cents in the
    * subtree. One explode + one aggregation; the output is bounded
    * (127 rows) at any corpus size.
    */
  def rollup(s: SparkSession, dir: String): DataFrame = {
    val pr = Tables(s, dir, "part")
      .filter(col("p_partkey") >= 1)
      .select(col("p_partkey").as("p"),
        round(col("p_retailprice") * 100.0).cast("long").as("c"))
    pr.select(col("p"), col("c"),
        explode(array(Shifts.map(lit(_)): _*)).as("d"))
      .select(Exact.intdiv(col("p"), col("d")).as("node"), col("c"))
      .filter(col("node") >= 1 && col("node") <= 127)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_desc"),
        sum(col("c").cast("decimal(38,0)")).cast("long").as("cents"))
      .select(col("node"), (length(bin(col("node"))) - 1).as("depth"),
        col("n_desc"), col("cents"))
      .orderBy(col("node"))
  }

  val rollupSql: String = {
    val divisors = Shifts.mkString("[", ", ", "]")
    s"""WITH pr AS (SELECT p_partkey AS p,
       |    CAST(round(p_retailprice * 100.0e0) AS BIGINT) AS c
       |  FROM part WHERE p_partkey >= 1),
       |pairs AS (SELECT p // d AS node, c
       |  FROM pr CROSS JOIN (SELECT unnest($divisors) AS d) ds
       |  WHERE p // d >= 1 AND p // d <= 127)
       |SELECT node, CAST(length(bin(node)) - 1 AS INT) AS depth,
       |  CAST(COUNT(*) AS BIGINT) AS n_desc,
       |  CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT) AS cents
       |FROM pairs GROUP BY node ORDER BY node""".stripMargin
  }

  /** Level profile of the whole tree: per depth, node count, total
    * retail cents, and the key range — the "how deep and how wide"
    * summary that validates a hierarchy encoding before rollups are
    * trusted. Pure map + one aggregation.
    */
  def depthProfile(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .filter(col("p_partkey") >= 1)
      .select((length(bin(col("p_partkey"))) - 1).as("depth"),
        col("p_partkey").as("p"),
        round(col("p_retailprice") * 100.0).cast("long").as("c"))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).cast("long").as("cents"),
        min(col("p")).as("min_key"), max(col("p")).as("max_key"))
      .orderBy(col("depth"))

  val depthProfileSql: String =
    """SELECT CAST(length(bin(p_partkey)) - 1 AS INT) AS depth,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(CAST(round(p_retailprice * 100.0e0) AS BIGINT)
      |    AS DECIMAL(38,0))) AS BIGINT) AS cents,
      |  CAST(MIN(p_partkey) AS BIGINT) AS min_key,
      |  CAST(MAX(p_partkey) AS BIGINT) AS max_key
      |FROM part WHERE p_partkey >= 1
      |GROUP BY 1 ORDER BY depth""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hier_rollup" -> (rollup _),
    "hier_depth" -> (depthProfile _))

  val oracles: Map[String, String] = Map(
    "hier_rollup" -> rollupSql,
    "hier_depth" -> depthProfileSql)
}
