package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grid-blocked spatial nearest-neighbor join (E-77): for each probe
  * point, the nearest candidate point within `radiusKm` by haversine
  * distance. The blocking is the spatial analogue of LSH banding
  * (E-2) and IVF lists (E-7b): index points into 1°×1° grid cells,
  * expand each probe to its 3×3 cell neighborhood, equi-join ON THE
  * CELL, and only then evaluate the (expensive, trig-heavy) exact
  * distance — candidates collapse from |probes|×|points| to
  * neighborhood-local pairs, and the join is a keyed shuffle (or
  * broadcast when one side is small), never a cross product.
  *
  * Correctness bound: a 1° cell is ≥ ~78 km of longitude below 45°
  * latitude, so a 3×3 neighborhood is exhaustive for radii ≤ that —
  * callers at higher latitudes or larger radii widen the grid.
  * Determinism: ranked on the ROUNDED distance with the candidate id
  * as tiebreak.
  *
  * Cost: the brute-force cross join is |probes|·|candidates| while the
  * blocked join is neighborhood-local pairs, so the gap between them
  * grows without bound with corpus size.
  */
object GeoJoin {

  /** Great-circle distance in km (haversine, R = 6371). Pure trig —
    * codegen'd, oracle-reproducible.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column,
      lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2.0 * 6371.0) * asin(sqrt(a))
  }

  /** Nearest `candidates` point within radiusKm per `probes` point.
    * Both inputs: (id, lat, lon). Probes with no candidate in range
    * are absent (inner semantics).
    *
    * @return (probe_id, cand_id, dist_km) — dist rounded to 3 decimals
    *         (≈ meter precision), which is also the ranking key
    */
  def nearestWithin(probes: DataFrame, candidates: DataFrame,
      radiusKm: Double): DataFrame = {
    require(radiusKm <= 78.0,
      "3x3 1-degree neighborhood is only exhaustive for radii <= ~78 km")
    val cand = candidates.select(col("id").as("cand_id"),
      col("lat").as("clat"), col("lon").as("clon"),
      floor(col("lat")).as("cell_lat"), floor(col("lon")).as("cell_lon"))
    val probeCells = probes.select(col("id").as("probe_id"),
        col("lat").as("plat"), col("lon").as("plon"))
      .withColumn("dlat", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("dlon", explode(array(lit(-1), lit(0), lit(1))))
      .select(col("probe_id"), col("plat"), col("plon"),
        (floor(col("plat")) + col("dlat")).as("cell_lat"),
        (floor(col("plon")) + col("dlon")).as("cell_lon"))
    val w = Window.partitionBy("probe_id").orderBy("dist_km", "cand_id")
    probeCells.join(cand, Seq("cell_lat", "cell_lon"))
      .select(col("probe_id"), col("cand_id"),
        round(haversineKm(col("plat"), col("plon"), col("clat"), col("clon")),
          3).as("dist_km"))
      .filter(col("dist_km") <= radiusKm)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
