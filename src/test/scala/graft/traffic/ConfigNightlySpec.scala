package graft.traffic

import graft.SparkSpec
import graft.core.Warehouse
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

class ConfigNightlySpec extends SparkSpec {
  import spark.implicits._

  private def snapshotXml(lane100: String, with101: Boolean): String = {
    val det101 = if (with101)
      """   <detector name="101" label="94E.2" category="" lane="2" field="480" abandoned="f"/>""" + "\n"
    else ""
    s"""<?xml version="1.0"?>
       |<tms_config>
       | <corridor route="I-94" dir="EB">
       |  <r_node name="rnd_1" n_type="Station" label="94/Main" lon="-93.2" lat="44.9"
       |          lanes="3" shift="0" s_limit="60" station_id="S1" attach_side="R">
       |   <detector name="100" label="94E.1" category="" lane="$lane100" field="500" abandoned="f"/>
       |$det101  </r_node>
       | </corridor>
       |</tms_config>""".stripMargin
  }

  /** A snapshot of one station holding `dets` as (name, lane, abandoned). */
  private def stationXml(dets: (String, String, String)*): String = {
    val lines = dets.map { case (n, lane, ab) =>
      s"""   <detector name="$n" label="94E.$n" category="" lane="$lane" field="500" abandoned="$ab"/>"""
    }
    s"""<?xml version="1.0"?>
       |<tms_config>
       | <corridor route="I-94" dir="EB">
       |  <r_node name="rnd_1" n_type="Station" label="94/Main" lon="-93.2" lat="44.9"
       |          lanes="3" shift="0" s_limit="60" station_id="S1" attach_side="R">
       |${lines.mkString("\n")}
       |  </r_node>
       | </corridor>
       |</tms_config>""".stripMargin
  }

  private def writeGz(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    val out = new GZIPOutputStream(Files.newOutputStream(p))
    out.write(content.getBytes("UTF-8")); out.close()
    p.toString
  }

  test("nightly config runs: bootstrap, then merge with changelog append (§3.4)") {
    val whRoot = Files.createTempDirectory("cfg_wh").toString
    val snapDir = Files.createTempDirectory("cfg_snaps")
    val wh = new Warehouse(spark, whRoot)

    // night 1: bootstrap
    ConfigNightly.run(spark, wh,
      writeGz(snapDir, "metro_config_20230101.xml.gz", snapshotXml("1", with101 = true)))
    assert(wh.read(ConfigNightly.dimTable).count() == 2)
    assert(!wh.exists(ConfigNightly.logTable)) // bootstrap logs nothing

    // night 2: lane change on 100, detector 101 removed
    ConfigNightly.run(spark, wh,
      writeGz(snapDir, "metro_config_20230102.xml.gz", snapshotXml("7", with101 = false)))
    val dim = wh.read(ConfigNightly.dimTable)
    val r100 = dim.where($"DETECTOR_NAME" === "100").head()
    assert(r100.getAs[String]("DETECTOR_LANE") == "7")
    // attribute change stamps LAST_CHANGE_DATE (R/_pull_data.R:286-299)
    assert(r100.getAs[java.sql.Date]("LAST_CHANGE_DATE") == d("2023-01-02"))
    val r101 = dim.where($"DETECTOR_NAME" === "101").head()
    assert(r101.getAs[Boolean]("DEACTIVATE"))
    // removal does NOT stamp it — only attribute updates do
    assert(r101.getAs[java.sql.Date]("LAST_CHANGE_DATE") == d("2023-01-01"))
    val log = wh.read(ConfigNightly.logTable)
    val changes = log.select($"Change", $"DETECTOR_NAME").as[(String, String)]
      .collect().toSet
    assert(changes == Set(
      ("Attribute Changed: DETECTOR_LANE", "100"), ("Detector Removed", "101")))

    // night 3: no changes → dim stable, nothing appended
    ConfigNightly.run(spark, wh,
      writeGz(snapDir, "metro_config_20230103.xml.gz", snapshotXml("7", with101 = false)))
    assert(wh.read(ConfigNightly.logTable).count() == 2)
    assert(wh.read(ConfigNightly.dimTable).count() == 2)
  }

  test("backfill folds a snapshot directory in date order") {
    val whRoot = Files.createTempDirectory("cfg_wh2").toString
    val snapDir = Files.createTempDirectory("cfg_snaps2")
    val wh = new Warehouse(spark, whRoot)
    // write out of order on purpose — backfill must sort by embedded date
    writeGz(snapDir, "metro_config_20230103.xml.gz", snapshotXml("9", with101 = false))
    writeGz(snapDir, "metro_config_20230101.xml.gz", snapshotXml("1", with101 = true))
    writeGz(snapDir, "metro_config_20230102.xml.gz", snapshotXml("5", with101 = true))
    ConfigNightly.backfill(spark, wh, snapDir.toString)
    val dim = wh.read(ConfigNightly.dimTable)
    assert(dim.where($"DETECTOR_NAME" === "100").head().getAs[String]("DETECTOR_LANE") == "9")
    val log = wh.read(ConfigNightly.logTable)
    // lane 1→5 (day2), 5→9 (day3), 101 removed (day3)
    assert(log.where($"Change" === "Attribute Changed: DETECTOR_LANE").count() == 2)
    assert(log.where($"Change" === "Detector Removed").count() == 1)
  }

  test("a failed staged write leaves both tables as they were; a re-run logs the night once") {
    val whRoot = Files.createTempDirectory("cfg_wh3").toString
    val snapDir = Files.createTempDirectory("cfg_snaps3")
    val wh = new Warehouse(spark, whRoot)
    ConfigNightly.run(spark, wh,
      writeGz(snapDir, "metro_config_20230101.xml.gz", snapshotXml("1", with101 = true)))
    ConfigNightly.run(spark, wh,
      writeGz(snapDir, "metro_config_20230102.xml.gz", snapshotXml("7", with101 = false)))
    val dimBefore = rows(wh.read(ConfigNightly.dimTable))
    val logBefore = rows(wh.read(ConfigNightly.logTable))

    // a plain file squats on the changelog's staging path: that write
    // fails while the dimension's concurrent write succeeds
    val squat = Files.write(
      java.nio.file.Paths.get(whRoot, ConfigNightly.logTable + ".staging"),
      "not a table".getBytes("UTF-8"))
    val night3 = writeGz(snapDir, "metro_config_20230103.xml.gz",
      snapshotXml("9", with101 = false))
    intercept[Exception](ConfigNightly.run(spark, wh, night3))
    assert(rows(wh.read(ConfigNightly.dimTable)) == dimBefore)
    assert(rows(wh.read(ConfigNightly.logTable)) == logBefore)
    assert(!Files.exists(java.nio.file.Paths.get(whRoot, ConfigNightly.dimTable + ".staging")))

    // the clean re-run commits the night, with no cached or
    // checkpointed blocks left behind
    Files.delete(squat)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    ConfigNightly.run(spark, wh, night3)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    assert(wh.read(ConfigNightly.dimTable).where($"DETECTOR_NAME" === "100")
      .head().getAs[String]("DETECTOR_LANE") == "9")
    val log = wh.read(ConfigNightly.logTable)
      .select($"Update_Date".cast("string"), $"Change", $"DETECTOR_NAME",
        $"Old_Value", $"New_Value")
      .as[(String, String, String, String, String)].collect().toSeq
    assert(log.sortBy(_.toString) == Seq(
      ("2023-01-02", "Attribute Changed: DETECTOR_LANE", "100", "1", "7"),
      ("2023-01-02", "Detector Removed", "101", null, null),
      ("2023-01-03", "Attribute Changed: DETECTOR_LANE", "100", "7", "9"))
      .sortBy(_.toString))
    assert(new java.io.File(whRoot).list().toSet ==
      Set(ConfigNightly.dimTable, ConfigNightly.logTable))
  }

  test("backfill equals the bootstrap plus one nightly run per later snapshot") {
    val snapDir = Files.createTempDirectory("cfg_snaps4")
    // lane change, removal, abandoned f→t, an empty snapshot, re-adds,
    // an insert and a second flip
    val files = Seq(
      "20230101" -> stationXml(("100", "1", "f"), ("101", "2", "f"), ("102", "3", "f")),
      "20230102" -> stationXml(("100", "5", "f"), ("102", "3", "t")),
      "20230103" -> stationXml(),
      "20230104" -> stationXml(("100", "5", "f"), ("101", "2", "f"), ("103", "1", "f")),
      "20230105" -> stationXml(("100", "6", "t"), ("103", "1", "f"))
    ).map { case (day, xml) => writeGz(snapDir, s"metro_config_$day.xml.gz", xml) }
    val filled = new Warehouse(spark, Files.createTempDirectory("cfg_wh4").toString)
    ConfigNightly.backfill(spark, filled, snapDir.toString)
    val nightly = new Warehouse(spark, Files.createTempDirectory("cfg_wh5").toString)
    files.foreach(ConfigNightly.run(spark, nightly, _))
    Seq(ConfigNightly.dimTable, ConfigNightly.logTable).foreach { t =>
      assert(filled.read(t).columns.toSeq == nightly.read(t).columns.toSeq, t)
      assert(rows(filled.read(t)) == rows(nightly.read(t)), t)
    }
    assert(filled.read(ConfigNightly.logTable).count() > 5)
  }

  test("a failed backfill write leaves both tables as they were") {
    val whRoot = Files.createTempDirectory("cfg_wh6").toString
    val wh = new Warehouse(spark, whRoot)
    val first = Files.createTempDirectory("cfg_snaps6")
    writeGz(first, "metro_config_20230101.xml.gz", snapshotXml("1", with101 = true))
    writeGz(first, "metro_config_20230102.xml.gz", snapshotXml("7", with101 = false))
    ConfigNightly.backfill(spark, wh, first.toString)
    val dimBefore = rows(wh.read(ConfigNightly.dimTable))
    val logBefore = rows(wh.read(ConfigNightly.logTable))

    val second = Files.createTempDirectory("cfg_snaps7")
    writeGz(second, "metro_config_20230101.xml.gz", snapshotXml("2", with101 = false))
    writeGz(second, "metro_config_20230102.xml.gz", snapshotXml("9", with101 = true))
    Files.write(java.nio.file.Paths.get(whRoot, ConfigNightly.logTable + ".staging"),
      "not a table".getBytes("UTF-8"))
    intercept[Exception](ConfigNightly.backfill(spark, wh, second.toString))
    assert(rows(wh.read(ConfigNightly.dimTable)) == dimBefore)
    assert(rows(wh.read(ConfigNightly.logTable)) == logBefore)
    assert(!Files.exists(java.nio.file.Paths.get(whRoot, ConfigNightly.dimTable + ".staging")))
  }

  test("backfill: a listed snapshot without detector rows closes every open key at its date") {
    val snapDir = Files.createTempDirectory("cfg_snaps8")
    val wh = new Warehouse(spark, Files.createTempDirectory("cfg_wh8").toString)
    writeGz(snapDir, "metro_config_20230101.xml.gz", snapshotXml("1", with101 = true))
    writeGz(snapDir, "metro_config_20230102.xml.gz", stationXml())
    ConfigNightly.backfill(spark, wh, snapDir.toString)
    val dim = wh.read(ConfigNightly.dimTable)
      .select($"DETECTOR_NAME", $"END_DATE".cast("string"), $"DEACTIVATE")
      .as[(String, String, Boolean)].collect().toSet
    assert(dim == Set(("100", "2023-01-02", true), ("101", "2023-01-02", true)))
    val log = wh.read(ConfigNightly.logTable)
      .select($"Update_Date".cast("string"), $"Change", $"DETECTOR_NAME")
      .as[(String, String, String)].collect().toSet
    assert(log == Set(("2023-01-02", "Detector Removed", "100"),
      ("2023-01-02", "Detector Removed", "101")))
  }

  test("backfill parses only the listed snapshot files, not a stray file beside them") {
    val snapDir = Files.createTempDirectory("cfg_snaps9")
    val wh = new Warehouse(spark, Files.createTempDirectory("cfg_wh9").toString)
    writeGz(snapDir, "metro_config_20230101.xml.gz", snapshotXml("1", with101 = true))
    Files.write(snapDir.resolve("metro_config_20230102.xml"),
      snapshotXml("4", with101 = true).getBytes("UTF-8"))
    Files.write(snapDir.resolve("README.txt"), "no snapshot here".getBytes("UTF-8"))
    ConfigNightly.backfill(spark, wh, snapDir.toString)
    assert(wh.read(ConfigNightly.dimTable).where($"DETECTOR_NAME" === "100")
      .head().getAs[String]("DETECTOR_LANE") == "4")
    assert(wh.read(ConfigNightly.logTable).count() == 1)
  }

  test("backfill of a missing or empty snapshot directory fails with a clear message") {
    val wh = new Warehouse(spark, Files.createTempDirectory("cfg_wh10").toString)
    val empty = Files.createTempDirectory("cfg_snaps10")
    val missing = empty.resolve("absent").toString
    val noDir = intercept[IllegalArgumentException](ConfigNightly.backfill(spark, wh, missing))
    assert(noDir.getMessage.contains(missing))
    val noFiles = intercept[IllegalArgumentException](
      ConfigNightly.backfill(spark, wh, empty.toString))
    assert(noFiles.getMessage.contains("no .xml or .xml.gz snapshot"))
    assert(!wh.exists(ConfigNightly.dimTable))
  }
}
