package perfbench

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON writer for the harness's result file, and a reader for
  * the flat string-to-string plan files the input generator writes. */
final class Json {
  private val fields = ArrayBuffer.empty[String]

  def num(k: String, v: Double): Unit = fields += s"${Json.str(k)}:${Json.num(v)}"
  def nums(k: String, vs: Seq[Double]): Unit =
    fields += s"${Json.str(k)}:${vs.map(Json.num).mkString("[", ",", "]")}"
  def obj(k: String, kv: Seq[(String, Double)]): Unit =
    fields += s"${Json.str(k)}:" +
      kv.map { case (n, v) => s"${Json.str(n)}:${Json.num(v)}" }.mkString("{", ",", "}")
  def strs(k: String, kv: Seq[(String, String)]): Unit =
    fields += s"${Json.str(k)}:" +
      kv.map { case (n, v) => s"${Json.str(n)}:${Json.str(v)}" }.mkString("{", ",", "}")
  def passes(ps: Seq[Pass]): Unit =
    fields += "\"passes\":" + ps.map { p =>
      val ops = p.ops.map(o =>
        s"""{"name":${Json.str(o.name)},"s":${Json.num(o.seconds)},"ok":${o.ok},""" +
          s""""error":${Json.str(o.error)}}""")
      s"""{"kind":${Json.str(p.kind)},"dir":${Json.str(p.dir)},""" +
        s""""wall_s":${Json.num(p.wall)},"ops":${ops.mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]")

  def render(): String = fields.mkString("{", ",", "}") + "\n"
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** Parse `{"k": "v", ...}` with string values only (no nesting). */
  def parseFlat(path: String): Map[String, String] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** Writes a traced pass's spans and the jobs under them. */
object Spans {
  def write(t: Tracer, path: String): Unit = {
    val kids = t.spans.groupBy(_.parent)
    val spans = t.spans.map { s =>
      val jobs = t.jobs.values.count(_.span == s.id)
      // self time: the span minus the part of it its children cover
      val self = (s.endMs - s.startMs) - Tracer.covered(
        kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq, s.startMs, s.endMs)
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""self_ms":${Json.num(self)},"jobs":$jobs}"""
    }
    val execs = t.execs.map { e =>
      s"""{"id":${e.id},"func":${Json.str(e.funcName)},"span":${e.span},""" +
        s""""plan_ms":${Json.num(e.planMs)},"write_rows":${e.writeRows},""" +
        s""""raw_rows":${e.rawRows},"exchanges":${e.exchanges}}"""
    }
    val jobs = t.jobs.map { case (id, j) =>
      s"""{"id":$id,"span":${j.span},"exec":${j.execId},""" +
        s""""start_ms":${Json.num(j.startMs)},"end_ms":${Json.num(j.endMs)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      spans.mkString("{\"spans\":[\n", ",\n", "\n],\n") +
        execs.mkString("\"execs\":[\n", ",\n", "\n],\n") +
        jobs.mkString("\"jobs\":[\n", ",\n", "\n]}\n"))
  }
}
