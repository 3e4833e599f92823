package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import graft.core.PipelineConfig
import graft.llm.{IndexCompact, IvfIndex, MinhashIndex, Takedown}
import graft.repl.Interpreter

/** One timed operation and what the checker needs to verify it. Only
  * `start`..`end` is measured; `out` is gathered after `end`. */
final case class OpResult(kind: String, start: Double, end: Double, ok: Boolean,
    err: String, out: JValue)

/** A workload: a set-up, then a closed loop of operations with one client,
  * each sent after the previous one returns. */
trait Workload {
  /** Everything before the first measured operation: the state the
    * operations need, and a warm-up until their times settle. */
  def setUp(spark: SparkSession): Unit
  def size: Int
  /** Operation `i` on input `input` (the two differ when a traced run
    * replays the script): the timed call through `tracer.operation`, then
    * the untimed collection of its outputs. */
  def step(i: Int, input: Int, tracer: Tracer): OpResult
  /** Whether a window that has run `done` operations may end there once
    * its time budget is spent. */
  def mayStop(done: Int): Boolean = true
  /** The input a further window starts from, when the last one ended
    * before input `next`. */
  def nextWindow(next: Int): Int
  /** Extra per-operation observations of a traced run. */
  def traceExtra(i: Int): JValue = JNothing
}

object Json {
  def value(v: Any): JValue = v match {
    case null                    => JNull
    case b: Boolean              => JBool(b)
    case i: Int                  => JLong(i.toLong)
    case l: Long                 => JLong(l)
    case d: Double               => JDouble(d)
    case f: Float                => JDouble(f.toDouble)
    case d: java.math.BigDecimal => JDouble(d.doubleValue)
    case other                   => JString(other.toString)
  }
}

/** `notebook`: a seeded script through Interpreter.execute, run once to warm
  * up and then re-run, the way a user iterates on a notebook. The checker
  * reads what the user sees: the cell's rendered text. */
final class Notebook(ops: JValue, dataDir: String, outDir: String) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val setupCells = (ops \ "setup").children.map(c => (c \ "code").extract[String])
  private val cells = (ops \ "ops").children.map(c => (c \ "code").extract[String]).toIndexedSeq
  private var interp: Interpreter = _

  private def must(code: String): Unit = {
    val r = interp.execute(code)
    require(r.success, s"set-up cell failed: ${r.text}")
  }

  def size: Int = Int.MaxValue // the script repeats, like a notebook re-run
  // whole passes only, so every window measures the same cells
  override def mayStop(done: Int): Boolean = done % cells.size == 0
  def nextWindow(next: Int): Int = 0 // replay the same cells

  def setUp(spark: SparkSession): Unit = {
    interp = new Interpreter(spark)
    must("%env\nDATA=\"" + dataDir + "\"\nOUT=\"" + outDir + "\"")
    setupCells.foreach(must)
    cells.foreach(interp.execute) // the first, cold pass
  }

  def addHook(h: graft.core.LifecycleHook): Unit = interp.ctx.hooks += h

  def step(i: Int, input: Int, tracer: Tracer): OpResult = {
    val cell = input % cells.size
    val code = cells(cell)
    val (r, t0, t1) = tracer.operation(i, "repl.execute")(interp.execute(code))
    // a traced run times the config parse of a pipeline cell beside the cell
    if (tracer.active && code.startsWith("%arc"))
      tracer.child("core.parse")(PipelineConfig.parse(code.stripPrefix("%arc"),
        params = interp.ctx.sqlParams))
    OpResult(code.split("\\s", 2).head.stripPrefix("%"), t0, t1, r.success,
      if (r.success) "" else r.text.take(2000),
      JObject("cell" -> JInt(cell), "text" -> JString(r.text.take(20000))))
  }
}

/** `stores`: MinHash and IVF stores built in set-up, then a seeded stream of
  * probes, ingests of held-out batches and takedowns, each against both
  * stores. Both stores are keyed by doc id. */
final class Stores(ops: JValue, dataDir: String, workDir: String) extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val stream = (ops \ "ops").children.toIndexedSeq
  private val base = (ops \ "meta" \ "base").extract[Long]
  private var spark: SparkSession = _
  private val mh = s"$workDir/minhash"
  private val ivf = s"$workDir/ivf"
  private val audit = s"$workDir/audit"
  private val nprobe = 4

  def size: Int = stream.size
  // not before the stream's first five operations: one takedown, one
  // ingest and three probes
  override def mayStop(done: Int): Boolean = done >= 5
  // the stores cannot be replayed; a further window starts at the next
  // block, so it sees every kind of operation too
  def nextWindow(next: Int): Int = (next + 9) / 10 * 10
  private def docs = spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text")
  private def vecs = spark.read.parquet(s"$dataDir/embeddings.parquet").select("vec_id", "embedding")

  def setUp(s: SparkSession): Unit = {
    spark = s
    MinhashIndex.write(docs.filter(col("doc_id") < base), "doc_id", "text", mh)
    IvfIndex.write(vecs.filter(col("vec_id") < base), "vec_id", "embedding", ivf, nlist = 16)
    // warm-up: a probe, which does not change the stores
    stream.find(o => (o \ "kind").extract[String] == "probe").foreach(probe)
  }

  private def probe(o: JValue): JValue = {
    val session = spark; import session.implicits._
    val d = (o \ "docs").children.map { case JArray(List(id, t)) =>
      (id.extract[Long], t.extract[String]) case _ => sys.error("bad query") }
    val v = (o \ "vectors").children.map { case JArray(List(id, q)) =>
      (id.extract[Long], q.extract[List[Double]].map(_.toFloat).toArray) case _ => sys.error("bad query") }
    JObject(
      "minhash" -> rows(MinhashIndex.matches(d.toDF("qid", "text"), "qid", "text", mh).collect()),
      "ivf" -> rows(IvfIndex.topK(v.toDF("qid", "qvec"), "qid", "qvec", ivf, k = 10, nprobe = nprobe)
        .select("query_id", "neighbor_id", "score").collect()))
  }

  private def compact(): Unit = {
    Seq("bands", "shingles", "exact").foreach(t => IndexCompact.compactPartitioned(spark, s"$mh/$t"))
    IndexCompact.compactPartitioned(spark, s"$ivf/vectors")
  }

  def step(i: Int, input: Int, tracer: Tracer): OpResult = {
    val o = stream(input)
    val kind = (o \ "kind").extract[String]
    before = if (tracer.active) storeFiles() else Map.empty
    val ((out, err), t0, t1) = tracer.operation(i, s"llm.$kind") {
      try {
        val res: JValue = kind match {
          case "probe" => probe(o)
          case "ingest" =>
            val (lo, hi) = ((o \ "lo").extract[Long], (o \ "hi").extract[Long])
            val survivors = MinhashIndex.ingest(
                docs.filter(col("doc_id") >= lo && col("doc_id") < hi), "doc_id", "text", mh)
              .select("doc_id").collect().map(_.getLong(0)).sorted
            IvfIndex.ingest(vecs.filter(col("vec_id") >= lo && col("vec_id") < hi),
              "vec_id", "embedding", ivf)
            compact()
            JArray(survivors.toList.map(JLong(_)))
          case "takedown" =>
            val session = spark; import session.implicits._
            val ids = (o \ "ids").extract[List[Long]].toDF("doc_id")
            rows(Takedown.run(spark, ids, minhashURI = mh, ivfURI = ivf, auditURI = audit,
              requestId = s"req-$i").select("store_type", "rows_removed").collect())
        }
        (res, None)
      } catch { case e: Exception => (JNothing, Some(String.valueOf(e.getMessage))) }
    }
    after = if (tracer.active) storeFiles() else Map.empty
    val state = if (err.isEmpty && kind != "probe") storeState() else JNothing
    OpResult(kind, t0, t1, err.isEmpty, err.getOrElse("").take(2000),
      JObject("result" -> out, "state" -> state))
  }

  private def rows(rs: Array[Row]): JValue =
    JArray(rs.toList.map(r => JArray((0 until r.length).toList.map(i => Json.value(r.get(i))))))

  /** The stores' contents after a mutation: ids per MinHash table, shingle
    * counts per doc, and the component sum of every stored vector. */
  private def storeState(): JValue = {
    def ids(path: String) = spark.read.parquet(path).select(col("_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toList.map(JLong(_))
    val sh = spark.read.parquet(s"$mh/shingles").select(col("_id"), functions.size(col("_sh")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    val vs = spark.read.parquet(s"$ivf/vectors")
      .select(col("id"), aggregate(col("vec"), lit(0.0), (a, x) => a + x.cast("double")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    JObject(
      "exact" -> JArray(ids(s"$mh/exact")),
      "bands" -> JArray(ids(s"$mh/bands")),
      "shingles" -> JArray(sh.toList.map { case (i, n) => JArray(List(JLong(i), JLong(n))) }),
      "vectors" -> JArray(vs.toList.map { case (i, s) => JArray(List(JLong(i), JDouble(s))) }))
  }

  // on-disk deltas of a traced run
  private var before = Map.empty[String, Long]
  private var after = Map.empty[String, Long]

  private def storeFiles(): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    Seq(mh, ivf).flatMap(d => walk(new File(d)))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toMap
  }

  override def traceExtra(i: Int): JValue = {
    val written = after.filter { case (p, n) => !before.get(p).contains(n) }.values.sum
    JObject("files" -> JLong(after.size), "bytes" -> JLong(after.values.sum),
      "bytes_before" -> JLong(before.values.sum), "bytes_written" -> JLong(written))
  }
}
