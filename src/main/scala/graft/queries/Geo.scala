package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Spatial proximity join by grid bucketing — the classic "points
  * within radius r" join done as an EQUI-join: bucket both point sets
  * into r-sized grid cells, explode the probe side to its 3×3 cell
  * neighborhood, hash-join on the cell, then refine with the exact
  * integer squared distance. Never all-pairs: candidates are bounded
  * by cell occupancy, the same plan Sedona/PostGIS execute for
  * ST_DWithin at scale.
  *
  * Points are synthesized deterministically (salted md5 of the key →
  * integer coordinates in [0, 10⁶)²) — the operator applies unchanged
  * to any integer-projected coordinate table; no floating-point
  * geometry anywhere, so the refine predicate is exact and the oracle
  * replays the identical arithmetic. The oracle states the SAME pair
  * set declaratively (|Δcell| ≤ 1 non-equi join) — result-identical
  * by the 3×3 completeness property: |a−b| ≤ r < cell ⇒ cells differ
  * by ≤ 1 per axis.
  *
  * Scale: two narrow coordinate maps, one ×9 explode on the smaller
  * probe side, one equi-join on cell id, one keyed aggregation. Cell
  * size = r keeps the neighborhood constant at 9 regardless of r.
  */
object Geo {

  private val R = 20000L // radius; also the grid cell size
  private val World = 1000000L

  private def coord(salt: String, key: Column): Column =
    pmod(conv(substr(md5(concat(lit(salt), key.cast("string"))), lit(1), lit(8)),
      16, 10).cast("long"), lit(World))

  def gridJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").select(col("c_custkey").as("cid"),
      coord("gx:", col("c_custkey")).as("cx"),
      coord("gy:", col("c_custkey")).as("cy"))
    val supp = Tables(s, dir, "supplier").select(col("s_suppkey").as("sid"),
      coord("gx:", col("s_suppkey") + lit(7000000L)).as("sx"),
      coord("gy:", col("s_suppkey") + lit(7000000L)).as("sy"))
      .withColumn("gx", Exact.intdiv(col("sx"), lit(R)))
      .withColumn("gy", Exact.intdiv(col("sy"), lit(R)))
    val probe = cust
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .select(col("cid"), col("cx"), col("cy"),
        (Exact.intdiv(col("cx"), lit(R)) + col("dx")).as("gx"),
        (Exact.intdiv(col("cy"), lit(R)) + col("dy")).as("gy"))
    val pairs = probe.join(supp, Seq("gx", "gy"))
      .withColumn("d2",
        (col("cx") - col("sx")) * (col("cx") - col("sx")) +
          (col("cy") - col("sy")) * (col("cy") - col("sy")))
      .filter(col("d2") <= lit(R * R))
    pairs.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_within"),
        min(struct(col("d2"), col("sid"))).as("nearest"))
      .select(col("cid").as("c_custkey"), col("n_within"),
        col("nearest.d2").as("min_d2"), col("nearest.sid").as("nearest_supp"))
      .orderBy(col("c_custkey"))
  }

  val gridJoinSql: String =
    s"""WITH cust AS (SELECT c_custkey AS cid,
       |    CAST(CAST(concat('0x', substr(md5('gx:' || CAST(c_custkey AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $World AS BIGINT) AS cx,
       |    CAST(CAST(concat('0x', substr(md5('gy:' || CAST(c_custkey AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $World AS BIGINT) AS cy
       |  FROM customer),
       |supp AS (SELECT s_suppkey AS sid,
       |    CAST(CAST(concat('0x', substr(md5('gx:' || CAST(s_suppkey + 7000000 AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $World AS BIGINT) AS sx,
       |    CAST(CAST(concat('0x', substr(md5('gy:' || CAST(s_suppkey + 7000000 AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $World AS BIGINT) AS sy
       |  FROM supplier),
       |pairs AS (SELECT c.cid, s.sid,
       |    (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS d2
       |  FROM cust c JOIN supp s
       |    ON abs(c.cx // $R - s.sx // $R) <= 1
       |   AND abs(c.cy // $R - s.sy // $R) <= 1
       |  WHERE (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy)
       |    <= ${R * R})
       |SELECT cid AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_within,
       |  CAST(MIN(struct_pack(d2 := d2, sid := sid)).d2 AS BIGINT) AS min_d2,
       |  CAST(MIN(struct_pack(d2 := d2, sid := sid)).sid AS BIGINT)
       |    AS nearest_supp
       |FROM pairs GROUP BY cid ORDER BY c_custkey""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_grid_join" -> (gridJoin _))

  val oracles: Map[String, String] = Map(
    "geo_grid_join" -> gridJoinSql)
}
