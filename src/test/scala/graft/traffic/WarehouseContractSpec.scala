package graft.traffic

import graft.SparkSpec
import graft.core.{ReadParity, Warehouse}
import graft.sources.ConfigXml
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

/** The warehouse-side twin of FixtureContractSpec: drive every §1.1
  * persistent table through its REAL writer, read each back from the
  * warehouse, and pin the post-roundtrip types to the declared DDL
  * (SURVEY.md §1.1 — NUMERIC(4,1) ⇒ DecimalType(4,1), INT ⇒
  * IntegerType, DATETIME2/SMALLDATETIME ⇒ TimestampType, DATE ⇒
  * DateType). Any future writer-side type drift — a `div` widening to
  * BIGINT, a ratio widening to DOUBLE, a renamed column — fails here
  * as one named test instead of surfacing downstream.
  */
class WarehouseContractSpec extends SparkSpec {
  import spark.implicits._

  private def typesOf(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  private def declared(s: StructType): Map[String, DataType] =
    s.fields.map(f => f.name -> f.dataType).toMap

  test("all five §1.1 tables roundtrip the warehouse with their DDL types") {
    val root = Files.createTempDirectory("wh_contract").toString
    val wh = new Warehouse(spark, root)

    // ---- RTMC_15MIN via the real nightly driver ----
    val raw = (for {
      day <- 1 to 28
      slot <- 0 until 2880 by 30
    } yield ("100", java.sql.Date.valueOf(f"2020-02-$day%02d"),
      slot / 120, (slot % 120) / 2.0, Some(5), Some(300)))
      .toDF("sensor", "date", "hour", "min", "volume", "occupancy")
    val config = Seq(("100", 500.0, "N1", "I-94"))
      .toDF("DETECTOR_NAME", "DETECTOR_FIELD", "NODE_NAME", "CORRIDOR_ROUTE")
    Nightly.run(spark, wh, raw, config, "2020-02-15")
    val fact = wh.read("RTMC_15MIN")
    assert(typesOf(fact) == declared(Schemas.rtmc15MinSink),
      s"RTMC_15MIN drifted: ${typesOf(fact)}")
    // the NUMERIC(4,1) legs specifically (the §1.1 detail the in-flight
    // double types must not leak into the sink)
    Seq("VOLUME_PCT_NULL", "OCCUPANCY_PCT_NULL", "SPEED").foreach { c =>
      assert(typesOf(fact)(c) == DecimalType(4, 1), s"$c lost NUMERIC(4,1)")
    }
    // and the cast was exact — re-widening to double reproduces the
    // 1-dp-rounded pipeline values bit-for-bit
    val reread = Schemas.conform(fact, Schemas.rtmc15Min)
    val direct = SensorIngest.build(
        raw.where($"date".between("2020-02-04", "2020-02-12")), config)
      .where($"START_DATE".between("2020-02-06", "2020-02-12"))
    assert(rows(reread.select($"DETECTOR_NAME", $"START_DATETIME", $"SPEED")) ==
      rows(direct.select($"DETECTOR_NAME", $"START_DATETIME", $"SPEED")))

    // ---- RTMC_CONFIG_HISTORICAL + RTMC_CONFIG_CHANGELOG via the real
    //      config nightly (bootstrap + one change so the log is
    //      non-empty) ----
    def snapshotXml(lane: String): String =
      s"""<?xml version="1.0"?>
         |<tms_config>
         | <corridor route="I-94" dir="EB">
         |  <r_node name="rnd_1" n_type="Station" label="94/Main" lon="-93.2"
         |          lat="44.9" lanes="3" shift="0" s_limit="60" station_id="S1"
         |          attach_side="R">
         |   <detector name="100" label="94E.1" category="" lane="$lane"
         |             field="500" abandoned="f"/>
         |  </r_node>
         | </corridor>
         |</tms_config>""".stripMargin
    val snapDir = Files.createTempDirectory("wh_contract_snaps")
    def writeGz(name: String, content: String): String = {
      val p = snapDir.resolve(name)
      val out = new GZIPOutputStream(Files.newOutputStream(p))
      out.write(content.getBytes("UTF-8")); out.close()
      p.toString
    }
    ConfigNightly.run(spark, wh,
      writeGz("metro_config_20230101.xml.gz", snapshotXml("1")))
    ConfigNightly.run(spark, wh,
      writeGz("metro_config_20230102.xml.gz", snapshotXml("7")))
    val dim = wh.read(ConfigNightly.dimTable)
    val wantDim = declared(ConfigXml.schema) ++ Map(
      "START_DATE" -> DateType, "END_DATE" -> DateType,
      "DEACTIVATE" -> BooleanType)
    assert(typesOf(dim) == wantDim, s"dimension drifted: ${typesOf(dim)}")
    val log = wh.read(ConfigNightly.logTable)
    assert(log.count() > 0) // the lane change must have logged
    assert(typesOf(log) == declared(Schemas.changelog),
      s"changelog drifted: ${typesOf(log)}")

    // ---- RTMC_PREDICT_{HOUR,DAY}: the model-output contract, written
    //      through the same conform chokepoint the fact table uses ----
    val actual = Schemas.conform(fact, Schemas.rtmc15Min)
    val pred = Compare.seasonalNaive(actual, "2020-02-10", "2020-02-12")
    Seq("RTMC_PREDICT_HOUR", "RTMC_PREDICT_DAY").foreach { t =>
      wh.overwrite(Schemas.conform(pred, Schemas.predict), t)
      assert(typesOf(wh.read(t)) == declared(Schemas.predict),
        s"$t drifted: ${typesOf(wh.read(t))}")
      // INT cast is value-exact on this fixture (hour-of-week means are
      // small) — the conform chokepoint must not silently truncate
      assert(wh.read(t).where(col("VOLUMN_PREDICTION").isNull).count() == 0)
    }

    // ---- VOLUME_DIFF through the compare's writer, then every table
    //      above read back through Tables.parquet: the inferred read's
    //      schema and rows, and no Spark job ----
    val nodeHour = Rollup.nodeAggregate(actual, "hour")
    val predicted = Schemas.conform(nodeHour.select(col("NODE_NAME"),
      col("START_DATETIME").as("PREDICT_TIME"),
      col("VOLUME_SUM_IMPUTE").as("VOLUMN_PREDICTION"), col("CORRIDOR_ROUTE")),
      Schemas.predict)
    wh.overwrite(Compare.volumeDiff(nodeHour, predicted), "VOLUME_DIFF")
    assert(!wh.read("VOLUME_DIFF").isEmpty)
    Seq("RTMC_15MIN", ConfigNightly.dimTable, ConfigNightly.logTable,
        "RTMC_PREDICT_HOUR", "RTMC_PREDICT_DAY", "VOLUME_DIFF").foreach { t =>
      val df = ReadParity.check(spark, s"$root/$t", sameRows = true)
      val (read, jobs) = ReadParity.jobsDuring(spark) { val r = wh.read(t); r.schema; r }
      assert(jobs == 0 && read.schema == df.schema, t)
    }
    // START_DATE still comes from the partition directories
    assert(fact.schema.last.name == "START_DATE")
  }
}
