package graft.sources

import java.io.InputStream
import java.util.zip.GZIPInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** S1/S2 — metro_config XML snapshot source
  * (reference /root/reference/R/_pull_data.R:5-136).
  *
  * The reference recovers the corridor ⊃ r_node ⊃ detector containment
  * by string-splitting XPaths and then zipping attribute frames to path
  * frames BY ROW ORDER (`bind_cols`, R/_pull_data.R:96-98 — SURVEY.md §7
  * hazard 3). Here a single StAX descent carries the enclosing corridor
  * and r_node attributes on a stack and emits one complete row per
  * detector — ancestry is structural, no ordinal join exists to go
  * wrong.
  *
  * Scale: one snapshot is small (thousands of detectors), but a 4-year
  * backfill is ~1,400 files — `readSnapshots` distributes parsing with
  * `binaryFiles` (one task per file, executors parse in parallel);
  * LAST_CHANGE_DATE is recovered from each file name (P4,
  * R/_pull_data.R:114-120).
  */
object ConfigXml {

  val schema: StructType = StructType(Seq(
    StructField("DETECTOR_NAME", StringType),
    StructField("DETECTOR_LABEL", StringType),
    StructField("DETECTOR_CATEGORY", StringType),
    StructField("DETECTOR_LANE", StringType),
    StructField("DETECTOR_FIELD", DoubleType),
    StructField("DETECTOR_ABANDONED", StringType),
    StructField("NODE_NAME", StringType),
    StructField("NODE_N_TYPE", StringType),
    StructField("NODE_TRANSITION", StringType),
    StructField("NODE_LABEL", StringType),
    StructField("NODE_LON", DoubleType),
    StructField("NODE_LAT", DoubleType),
    StructField("NODE_LANES", IntegerType),
    StructField("NODE_SHIFT", IntegerType),
    StructField("NODE_S_LIMIT", IntegerType),
    StructField("NODE_STATION_ID", StringType),
    StructField("NODE_ATTACH_SIDE", StringType),
    StructField("CORRIDOR_ROUTE", StringType),
    StructField("CORRIDOR_DIR", StringType),
    StructField("LAST_CHANGE_DATE", DateType)))

  /** Parse one snapshot stream → one Row per detector. Empty attribute
    * strings become NULL (P7: the reference's `x[x==""] <- NA`).
    */
  def parse(in: InputStream, lastChangeDate: java.sql.Date): Seq[Row] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = f.createXMLStreamReader(in)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var corridor: Map[String, String] = Map.empty
    var rnode: Map[String, String] = Map.empty

    def attrs(): Map[String, String] =
      (0 until r.getAttributeCount).map(i =>
        r.getAttributeLocalName(i) -> r.getAttributeValue(i)).toMap

    def s(m: Map[String, String], k: String): String =
      m.get(k).filter(_.nonEmpty).orNull
    def dbl(m: Map[String, String], k: String): java.lang.Double =
      m.get(k).filter(_.nonEmpty).map(v => java.lang.Double.valueOf(v)).orNull
    def int(m: Map[String, String], k: String): Integer =
      m.get(k).filter(_.nonEmpty).map(v => Integer.valueOf(v.toInt)).orNull

    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "corridor" => corridor = attrs()
            case "r_node"   => rnode = attrs()
            case "detector" =>
              val d = attrs()
              out += Row(
                s(d, "name"), s(d, "label"), s(d, "category"), s(d, "lane"),
                dbl(d, "field"), s(d, "abandoned"),
                s(rnode, "name"), s(rnode, "n_type"), s(rnode, "transition"),
                s(rnode, "label"), dbl(rnode, "lon"), dbl(rnode, "lat"),
                int(rnode, "lanes"), int(rnode, "shift"), int(rnode, "s_limit"),
                s(rnode, "station_id"), s(rnode, "attach_side"),
                s(corridor, "route"), s(corridor, "dir"),
                lastChangeDate)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "corridor" => corridor = Map.empty
            case "r_node"   => rnode = Map.empty
            case _          =>
          }
        case _ =>
      }
    }
    r.close()
    out.toSeq
  }

  /** yyyyMMdd date embedded in a snapshot path
    * (`…config_20230115.xml.gz`, P4).
    */
  def dateFromPath(path: String): java.sql.Date = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val m = "(\\d{8})".r.findFirstIn(base)
      .getOrElse(throw new IllegalArgumentException(s"no yyyyMMdd in $base"))
    java.sql.Date.valueOf(
      s"${m.substring(0, 4)}-${m.substring(4, 6)}-${m.substring(6, 8)}")
  }

  private def open(path: String, raw: InputStream): InputStream =
    if (path.endsWith(".gz")) new GZIPInputStream(raw) else raw

  /** One snapshot file (driver-side — the nightly case). */
  def readSnapshot(spark: SparkSession, path: String): DataFrame = {
    val in = open(path, new java.io.FileInputStream(path))
    val rows = try parse(in, dateFromPath(path)) finally in.close()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), schema)
  }

  /** Many snapshot files (the ~1,400-file backfill case), given as a
    * directory or a comma-separated list of paths: executors parse in
    * parallel, one task per file.
    */
  def readSnapshots(spark: SparkSession, paths: String): DataFrame = {
    val rdd = spark.sparkContext.binaryFiles(paths)
      .flatMap { case (path, pds) =>
        val in = open(path, pds.open())
        try parse(in, dateFromPath(path)) finally in.close()
      }
    spark.createDataFrame(rdd, schema)
  }
}
