package graft.traffic

import org.apache.spark.sql.{DataFrame, SparkSession}

/** FIXTURES A1 raw readings carrying every edge case the pull pipeline's
  * history fill meets, built from column expressions: sensors s0–s3 over
  * `days` days from 2020-01-01, 2,880 half-minute readings per
  * sensor-day (day indexes below are 0-based).
  *  - s1 / s2 start on day 8 / day 14 (index 7 / 13), so their early
  *    buckets have no day−7 or day−14 row;
  *  - s3's Jan 12 is all NULL (P16 drops it), so Jan 19 and Jan 26 meet
  *    a missing day−7 or day−14 day;
  *  - every sensor has a 2-hour NULL run (10:00–12:00) on every third
  *    day: its middle buckets have an all-NULL ±2 window, so they fall
  *    through to the day−7/−14 fill, which then finds both, one or no
  *    side (s3's Jan 19 run: no day−7, a day−14);
  *  - half-empty 12:00 buckets on every fourth day (P13 scale-up);
  *  - scattered NULL readings on s0, impossible volumes (P10) and exact
  *    duplicate readings (P11).
  */
object EdgeRaw {
  def apply(spark: SparkSession, days: Int = 28): DataFrame = {
    val perSensor = days * 2880
    val readings = spark.range(4L * perSensor)
      .selectExpr(
        s"CAST(id DIV $perSensor AS INT) AS s",
        s"CAST(id DIV 2880 % $days AS INT) AS day",
        "CAST(id % 2880 AS INT) AS slot")
      .where("NOT (s = 1 AND day < 7) AND NOT (s = 2 AND day < 13)")
      .selectExpr("*", "slot DIV 2 AS m")
      .selectExpr("*",
        """(s = 3 AND day = 11)
          | OR ((day + s) % 3 = 0 AND m >= 600 AND m < 720)
          | OR ((day + s) % 4 = 1 AND slot >= 1440 AND slot < 1470 AND slot % 2 = 0)
          | OR (s = 0 AND pmod(hash(day, slot), 37) = 0) AS gone""".stripMargin)
      .selectExpr(
        "concat('s', s) AS sensor",
        "date_add(DATE'2020-01-01', day) AS date",
        "CAST(slot DIV 120 AS INT) AS hour",
        "CAST(slot % 120 AS DOUBLE) / 2 AS min",
        """CASE WHEN gone THEN NULL
          |  WHEN pmod(hash(s, day, slot, 7), 211) = 0 THEN 55
          |  ELSE pmod(hash(s, day, slot, 1), 9) END AS volume""".stripMargin,
        "CASE WHEN gone THEN NULL ELSE pmod(hash(s, day, slot, 2), 600) END AS occupancy")
    readings.unionAll(readings.where("min = 7.5 AND hour % 5 = 0"))
  }

  /** Detector dimension for s0–s2; s3 is absent (left join → NULL
    * NODE_NAME and SPEED).
    */
  def config(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("s0", 500.0, "N1", "I-94"), ("s1", 400.0, "N1", "I-94"),
      ("s2", 620.0, "N2", "I-35W"))
      .toDF("DETECTOR_NAME", "DETECTOR_FIELD", "NODE_NAME", "CORRIDOR_ROUTE")
  }
}
