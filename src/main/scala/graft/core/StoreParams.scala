package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The `params/` directory of a persistent index ([[graft.llm.MinhashIndex]],
  * [[graft.llm.SemIndex]], [[graft.llm.SpanIndex]]): one JSON-lines file
  * holding one object, read and written on the driver — no Spark job. It
  * is the layout a `coalesce(1).write.json` of a one-row frame produces,
  * so params written either way read back either way. Writes go through
  * [[AtomicDir.swap]], reads through [[AtomicDir.recoverLive]]; decoding
  * (field types, legacy defaults) stays with each store.
  */
object StoreParams {

  /** Replace the params object at `dir` with `fields` ([[AuditLog.render]]). */
  def write(spark: SparkSession, dir: String, fields: Seq[(String, Any)]): Unit =
    AtomicDir.swap(spark, dir) { tmp =>
      val tmpDir = new Path(tmp)
      val fs = tmpDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // leftovers of a crash mid-tmp-write (the live dir was intact then)
      fs.delete(tmpDir, true)
      val out = fs.create(new Path(tmpDir, "part-00000.json"), false)
      try out.write((AuditLog.render(fields) + "\n").getBytes("UTF-8"))
      finally out.close()
    }

  /** The params object at `dir`: fails unless the directory holds one
    * visible file (name not starting with `_` or `.`) holding one object. */
  def read(spark: SparkSession, dir: String): Fields = {
    AtomicDir.recoverLive(spark, dir)
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(path).filterNot { s =>
      s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")
    }
    require(files.length == 1 && files.head.isFile, s"StoreParams: expected " +
      s"one params file in $dir, found ${files.map(_.getPath.getName).mkString(", ")}")
    val in = fs.open(files.head.getPath)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.trim.nonEmpty).toList finally in.close()
    lines.map(JsonMethods.parse(_)) match {
      case List(JObject(kvs)) => Fields(dir, kvs.toMap)
      case _ => throw new IllegalArgumentException(s"StoreParams: " +
        s"${files.head.getPath} must hold one JSON object, found: ${lines.mkString(" | ")}")
    }
  }

  /** One params object with typed field access; a missing or null field
    * fails unless the caller names a default. */
  final case class Fields(dir: String, values: Map[String, JValue]) {
    private def get(k: String) = values.get(k).filter(_ != JNull)
    private def bad(k: String) = new IllegalArgumentException(
      s"StoreParams: field '$k' in $dir is ${get(k).getOrElse("missing")}")

    def longOr(k: String, default: => Long): Long = get(k) match {
      case None => default
      case Some(JInt(v)) if v.isValidLong => v.toLong
      case _ => throw bad(k)
    }
    def long(k: String): Long = longOr(k, throw bad(k))
    def int(k: String): Int = long(k) match {
      case v if v.isValidInt => v.toInt
      case _ => throw bad(k)
    }
    def double(k: String): Double = get(k) match {
      case Some(JDouble(v)) => v
      case _ => throw bad(k)
    }
    def string(k: String): String = get(k) match {
      case Some(JString(v)) => v
      case _ => throw bad(k)
    }
  }
}
