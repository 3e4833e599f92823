package graft.udf

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Literal, Rand}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The reference's session UDF surface (SURVEY.md §2.3 "UDF surface"):
  * `get_json_double_array` / `get_json_integer_array` / `get_json_long_array`
  * (JsonPath → array), `get_uri` / `get_uri_array` (fetch URI bytes — stubbed
  * offline), seeded `random`, `struct_keys`, `to_xml`.
  * Registered once per session (reference ArcInterpreter.scala:377-381).
  */
object Udfs {

  /** Minimal JsonPath subset: `$`, `.key`, `[idx]`, terminal array value.
    * Matches the reference surface's usage (`$.path.to.array`).
    */
  private[udf] def evalPath(json: String, path: String): Option[JValue] = {
    if (json == null || path == null) return None
    val parsed =
      try JsonMethods.parse(json)
      // Throwable, not NonFatal: a too-deep JSON input overflows the stack and must read as None
      catch { case _: Throwable => return None }
    val tokens = path.stripPrefix("$").split("""[.\[\]]+""").filter(_.nonEmpty)
    tokens.foldLeft(Option(parsed)) {
      case (Some(JObject(kvs)), key) if !key.forall(_.isDigit) =>
        kvs.collectFirst { case (k, v) if k == key => v }
      case (Some(JArray(vs)), idx) if idx.forall(_.isDigit) =>
        vs.lift(idx.toInt)
      case _ => None
    }
  }

  private def numArray(json: String, path: String): Option[Seq[Double]] =
    evalPath(json, path).collect { case JArray(vs) =>
      vs.collect {
        case JDouble(d)  => d
        case JInt(i)     => i.toDouble
        case JLong(l)    => l.toDouble
        case JDecimal(d) => d.toDouble
      }
    }

  /** Render a Row as simple XML (reference UDF `to_xml`). */
  private def rowToXml(row: org.apache.spark.sql.Row): String = {
    def render(name: String, value: Any): String = value match {
      case null                              => s"<$name/>"
      case r: org.apache.spark.sql.Row       =>
        s"<$name>${r.schema.fields.zipWithIndex.map { case (f, i) => render(f.name, r.get(i)) }.mkString}</$name>"
      case seq: scala.collection.Seq[_]      =>
        s"<$name>${seq.map(v => render("item", v)).mkString}</$name>"
      case m: scala.collection.Map[_, _]     =>
        s"<$name>${m.map { case (k, v) => render(String.valueOf(k), v) }.mkString}</$name>"
      case other                             => s"<$name>${scala.xml.Utility.escape(String.valueOf(other))}</$name>"
    }
    row.schema.fields.zipWithIndex.map { case (f, i) => render(f.name, row.get(i)) }.mkString
  }

  def register(spark: SparkSession): Unit = {
    spark.udf.register(
      "get_json_double_array",
      (json: String, path: String) => numArray(json, path).map(_.toArray).orNull
    )
    spark.udf.register(
      "get_json_integer_array",
      (json: String, path: String) => numArray(json, path).map(_.map(_.toInt).toArray).orNull
    )
    spark.udf.register(
      "get_json_long_array",
      (json: String, path: String) => numArray(json, path).map(_.map(_.toLong).toArray).orNull
    )
    // http(s) URIs fetch over real HTTP (graft.core.Http, pooled JDK client);
    // file URIs read the local filesystem.
    spark.udf.register(
      "get_uri",
      (uri: String) =>
        try {
          if (uri.startsWith("http")) graft.core.Http.get(uri)._2
          else java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(uri)))
        } catch { case NonFatal(_) => null }
    )
    // STUB(offline): like get_uri but for a glob — returns the bytes of every
    // matching local file, sorted by path for determinism (the reference
    // registers get_uri_array alongside get_uri for multi-file fetch).
    spark.udf.register(
      "get_uri_array",
      (uri: String) =>
        try {
          val path = java.nio.file.Paths.get(new java.net.URI(uri))
          val (dir, glob) =
            if (java.nio.file.Files.isDirectory(path)) (path, "*")
            else (path.getParent, path.getFileName.toString)
          val stream = java.nio.file.Files.newDirectoryStream(dir, glob)
          try {
            import scala.jdk.CollectionConverters._
            stream.asScala.toSeq
              .filter(java.nio.file.Files.isRegularFile(_))
              .sortBy(_.toString)
              .map(java.nio.file.Files.readAllBytes)
              .toArray
          } finally stream.close()
        } catch { case NonFatal(_) => null }
    )
    spark.udf.register(
      "struct_keys",
      (row: org.apache.spark.sql.Row) =>
        if (row == null) null else row.schema.fieldNames
    )
    spark.udf.register("to_xml", (row: org.apache.spark.sql.Row) => rowToXml(row))
    // Seeded, reproducible random — Catalyst's Rand with a fixed seed keeps
    // codegen and per-partition determinism (vs a closure UDF).
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "random",
      exprs => if (exprs.nonEmpty) Rand(exprs.head) else Rand(Literal(0L)),
      "built-in"
    )
    graft.functions.VectorExpressions.register(spark)
    graft.functions.WinnowingFingerprintsExpr.register(spark)
    graft.functions.MinhashSignatureExpr.register(spark)
    graft.functions.Simhash64Expr.register(spark)
    graft.functions.CharClassCountsExpr.register(spark)
    graft.functions.UnicodeNormalizeExpr.register(spark)
    graft.functions.Md5Prefix64Expr.register(spark)
    graft.functions.CdcChunksExpr.register(spark)
    graft.functions.MultiContainsExpr.register(spark)
    graft.functions.CharEntropyExpr.register(spark)
    graft.functions.DeflateRatioExpr.register(spark)
  }
}
