package graft.repl

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.core._
import graft.render.Render
import graft.schema.MetadataSchema
import graft.transform.SQLTransform

/** Result of one cell execution. `log` carries the lines buffered while the
  * cell ran (reference showLog / InMemoryLoggerAppender).
  */
final case class CellResult(
    success: Boolean,
    text: String = "",
    html: String = "",
    df: Option[DataFrame] = None,
    log: Seq[String] = Nil
)

/** The notebook-style REPL surface — behavioral equivalent of the reference's
  * kernel dispatch (ArcInterpreter.scala:216-296) without the Jupyter/ZeroMQ
  * transport: first line `%magic k=v ...`, body below; plain SQL dispatches
  * like `%sql`.
  *
  * Magics: %sql %sqlvalidate %metadata %printmetadata %schema %printschema
  * %list %env %secret %conf %log %version %help %summary
  */
final class Interpreter(initialSpark: SparkSession) {

  var spark: SparkSession = initialSpark
  var ctx = new PipelineContext(spark, storageLevel = Boot.storageLevel)
  graft.udf.Udfs.register(spark)

  /** Set by `%conf master=`; the session is rebuilt lazily on the next cell
    * (reference ArcInterpreter.scala:520-525: stores the master and stops the
    * session).
    */
  private var confMaster: Option[String] = None

  /** Rebuild the session when `%conf master=` stopped it; params survive,
    * temp views do not (same as the reference's restart).
    */
  private def ensureSession(): Unit =
    if (spark.sparkContext.isStopped) {
      spark = Boot.buildSession(confMaster.getOrElse("local[*]"))
      val oldParams = ctx.params
      ctx = new PipelineContext(spark, params = oldParams, storageLevel = Boot.storageLevel)
      graft.udf.Udfs.register(spark)
    }

  private var confNumRows = sys.env.get("CONF_NUM_ROWS").flatMap(_.toIntOption).getOrElse(20)
  private val confMaxNumRows =
    sys.env.get("CONF_MAX_NUM_ROWS").flatMap(_.toIntOption).getOrElse(Int.MaxValue)
  private var confTruncate = sys.env.get("CONF_TRUNCATE").flatMap(_.toIntOption).getOrElse(50)
  private var confStreamingDuration = 10 // seconds
  private var confStreamingFrequency = 1000 // ms
  private var confEnvironment = // the reference reads ETL_CONF_ENV
    sys.env.get("ETL_CONF_ENV").orElse(sys.env.get("CONF_ENVIRONMENT")).getOrElse("production")
  private var viewCounter = 0

  private def nextView(): String = { viewCounter += 1; s"v$viewCounter" }

  def execute(code: String): CellResult = {
    val trimmed = code.trim
    if (trimmed.isEmpty) return CellResult(success = true)
    if (Params.containsInlineSecret(trimmed))
      return CellResult(success = false, text = "cell contains inline secret — use %secret")
    Boot.memoryGuard() match {
      case Some(err) => return CellResult(success = false, text = err)
      case None      => ()
    }
    ensureSession()
    val (magic, argLine, body) =
      if (trimmed.startsWith("%")) {
        val firstLine = trimmed.linesIterator.next()
        val rest = trimmed.linesIterator.drop(1).mkString("\n")
        val parts = firstLine.drop(1).split("\\s+", 2)
        (parts(0), if (parts.length > 1) parts(1) else "", rest)
      } else if (trimmed.startsWith("{") || trimmed.startsWith("[")) {
        // bare stage-config cell (the reference's bare-HOCON dispatch)
        ("arc", "", trimmed)
      } else ("sql", "", trimmed)
    val args = Params.parseArgs(argLine)
    // per-cell progress listener, attached/detached around execution like the
    // reference (ArcInterpreter.scala:386-396, :640-648); log lines buffered
    // during the cell are drained into the result (reference showLog).
    LogBuffer.clear()
    val (result, progress) = ProgressListener.withProgress(spark) {
      try dispatch(magic, args, argLine, body)
      catch {
        // harness boundary: any failure, fatal or not, ends as this cell's error
        case e: Throwable =>
          // Secrets never echo, including through error text: a failing SQL
          // cell would otherwise reflect an injected ${secret} verbatim.
          CellResult(
            success = false,
            text = Params.maskSecrets(unwrap(e).mkString("\n"), ctx.params.toMap))
      }
    }
    lastProgress = progress
    val cellLog = LogBuffer.drain().map(Params.maskSecrets(_, ctx.params.toMap))
    val withLog = result.copy(log = cellLog)
    if (args.get("showLog").contains("true") && cellLog.nonEmpty)
      withLog.copy(text = (cellLog.mkString("\n") + "\n" + withLog.text).trim)
    else withLog
  }

  /** Task progress of the most recent cell (done/total tasks). */
  @volatile var lastProgress: ProgressListener.Snapshot = ProgressListener.Snapshot(0, 0)

  private def unwrap(e: Throwable): Seq[String] = {
    val msgs = mutable.Buffer[String]()
    var cur: Throwable = e
    while (cur != null && msgs.size < 10) {
      if (cur.getMessage != null) msgs += cur.getMessage
      cur = cur.getCause
    }
    msgs.toSeq
  }

  private def numRowsArg(args: Map[String, String]): Int =
    math.min(args.get("numRows").flatMap(_.toIntOption).getOrElse(confNumRows), confMaxNumRows)

  private def truncateArg(args: Map[String, String]): Int =
    args.get("truncate").flatMap(_.toIntOption).getOrElse(confTruncate)

  private def display(df: DataFrame, args: Map[String, String]): CellResult =
    if (df.isStreaming) streamingDisplay(df, args)
    else
      CellResult(
        success = true,
        text = Render.renderText(df, numRowsArg(args), truncateArg(args)),
        html = Render.renderHTML(df, numRowsArg(args), confMaxNumRows, truncateArg(args)),
        df = Some(df)
      )

  /** The reference's streaming consumption model (Common.scala:162-227):
    * write the stream to a memory sink, poll it every `frequency` ms for up to
    * `duration` s, stop early once numRows rows arrived, render the final
    * table.
    */
  private def streamingDisplay(df: DataFrame, args: Map[String, String]): CellResult = {
    val queryName = "stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = df.writeStream.format("memory").outputMode("append").queryName(queryName).start()
    val deadline = System.currentTimeMillis() + confStreamingDuration * 1000L
    val target = numRowsArg(args)
    try {
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        Thread.sleep(confStreamingFrequency)
        val table = spark.table(queryName)
        if (table.count() > target) done = true
      }
    } finally q.stop()
    val result = spark.table(queryName)
    CellResult(
      success = true,
      text = Render.renderText(result, target, truncateArg(args)),
      html = Render.renderHTML(result, target, confMaxNumRows, truncateArg(args)),
      df = Some(result)
    )
  }

  private def dispatch(
      magic: String,
      args: Map[String, String],
      argLine: String,
      body: String
  ): CellResult = magic match {
    case "sql" =>
      val outputView = args.getOrElse("outputView", nextView())
      // through Runner so lifecycle hooks + per-cell log capture apply
      val df = Runner.run(Seq(SQLTransform(
        name = args.getOrElse("name", "sql"),
        sql = body,
        outputView = outputView,
        persist = args.get("persist").contains("true"),
        numPartitions = args.get("numPartitions").flatMap(_.toIntOption)
      )), ctx).get
      display(df, args)

    case "arc" =>
      val (stages, plugins) = PipelineConfig.parseWithPlugins(
        if (body.nonEmpty) body else argLine,
        environment = confEnvironment,
        params = ctx.sqlParams)
      // Plugins registered by a cell stay active for every LATER cell, like
      // the reference's activeLifecyclePlugins (ArcInterpreter.scala:427-434)
      // — and also apply to this cell's own stages (hooks run post-stage).
      ctx.hooks ++= plugins
      val last = Runner.run(stages, ctx)
      last match {
        case Some(df) => display(df, args)
        case None if stages.isEmpty && plugins.nonEmpty =>
          CellResult(success = true, text = s"${plugins.size} lifecycle plugin(s) registered")
        case None => CellResult(success = true, text = s"${stages.size} stage(s) executed")
      }

    case "lifecycleplugin" =>
      // dedicated magic: the body IS the plugin list (reference
      // ArcInterpreter.scala:259-264 routes %lifecycleplugin into the same
      // config parse)
      val plugins = PipelineConfig.parseLifecycleCell(
        if (body.nonEmpty) body else argLine,
        environment = confEnvironment,
        params = ctx.sqlParams)
      ctx.hooks ++= plugins
      CellResult(success = true, text = s"${plugins.size} lifecycle plugin(s) registered")

    case "configplugin" =>
      // dynamic parameter providers (reference ArcInterpreter.scala:259-261):
      // each plugin's values merge into the session params, so later cells
      // resolve them via ${key}. Values are NOT echoed (they may be secrets).
      val plugins = PipelineConfig.parseConfigCell(
        if (body.nonEmpty) body else argLine,
        environment = confEnvironment,
        params = ctx.sqlParams)
      val provided = plugins.flatMap(_.values(confEnvironment)).toMap
      provided.foreach { case (k, v) => ctx.params(k) = graft.core.ConfigValue(v) }
      CellResult(success = true,
        text = s"${plugins.size} config plugin(s) registered, " +
          s"${provided.size} parameter(s) provided: ${provided.keys.toSeq.sorted.mkString(", ")}")

    case "sqlvalidate" =>
      graft.validate.SQLValidate(args.getOrElse("name", "sqlvalidate"), body).execute(ctx)
      CellResult(success = true, text = "valid")

    case "metadata" =>
      val df = MetadataSchema.metadataDataFrame(spark, ctx.view(argLine.trim.split("\\s+").head))
      args.get("outputView").foreach(v => ctx.register(v, df, "metadata"))
      display(df, args)

    case "printmetadata" =>
      CellResult(success = true, text = MetadataSchema.toJson(ctx.view(argLine.trim).schema))

    case "schema" =>
      CellResult(success = true, text = ctx.view(argLine.trim).schema.prettyJson)

    case "printschema" =>
      CellResult(success = true, text = ctx.view(argLine.trim).schema.treeString)

    case "list" =>
      val uri = argLine.trim.split("\\s+").head
      val df = FileList.list(spark, uri)
      args.get("outputView").foreach(v => ctx.register(v, df, "list"))
      display(df, args)

    case "env" =>
      Params.parseEnv(body + "\n" + argLine).foreach { case (k, v) =>
        ctx.params(k) = ConfigValue(v)
      }
      CellResult(success = true, text = ctx.params.collect {
        case (k, cv) if !cv.secret => s"$k=${cv.value}"
        case (k, _)                => s"$k=******"
      }.mkString("\n"))

    case "secret" =>
      // value arrives via args (the reference reads it from a password input)
      args.foreach { case (k, v) => ctx.params(k) = ConfigValue(v, secret = true) }
      CellResult(success = true, text = args.keys.map(k => s"$k=******").mkString("\n"))

    case "conf" =>
      args.get("master").foreach { m =>
        confMaster = Some(m)
        spark.stop() // rebuilt with the new master on the next cell
      }
      args.get("numRows").flatMap(_.toIntOption).foreach(confNumRows = _)
      args.get("truncate").flatMap(_.toIntOption).foreach(confTruncate = _)
      args.get("streaming").foreach(v => ctx.streaming = v == "true")
      args.get("streamingDuration").flatMap(_.toIntOption).foreach(confStreamingDuration = _)
      args.get("streamingFrequency").flatMap(_.toIntOption).foreach(confStreamingFrequency = _)
      args.get("environment").foreach(confEnvironment = _)
      CellResult(
        success = true,
        text =
          s"numRows=$confNumRows truncate=$confTruncate streaming=${ctx.streaming} " +
            s"streamingDuration=$confStreamingDuration streamingFrequency=$confStreamingFrequency " +
            s"environment=$confEnvironment"
      )

    case "log" =>
      graft.execute.LogExecute(args.getOrElse("name", "log"), body).execute(ctx)
      CellResult(success = true, text = "logged")

    case "configexecute" =>
      graft.execute.ConfigExecute(args.getOrElse("name", "configexecute"), body).execute(ctx)
      CellResult(success = true, text = ctx.params.collect {
        case (k, cv) if !cv.secret => s"$k=${cv.value}"
        case (k, _)                => s"$k=******"
      }.mkString("\n"))

    case "metadatafilter" =>
      val df = graft.transform.MetadataFilterTransform(
        args.getOrElse("name", "metadatafilter"),
        inputView = args("inputView"),
        outputView = args.getOrElse("outputView", nextView()),
        sql = body
      ).execute(ctx).get
      display(df, args)

    case "metadatavalidate" =>
      graft.validate.MetadataValidate(
        args.getOrElse("name", "metadatavalidate"),
        inputView = args("inputView"),
        sql = body
      ).execute(ctx)
      CellResult(success = true, text = "valid")

    case "summary" | "statistics" =>
      val view = argLine.trim.split("\\s+").head
      val out = args.getOrElse("outputView", nextView())
      val df = graft.extract
        .StatisticsExtract(name = "summary", inputView = view, outputView = out)
        .execute(ctx).get
      display(df, args)

    case "explain" =>
      // formatted physical plan of a registered view — pushdown/pruning/
      // join-strategy visibility from inside the notebook
      CellResult(
        success = true,
        text = ctx.view(argLine.trim.split("\\s+").head).queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString(
            args.getOrElse("mode", "formatted"))))

    case "version" =>
      CellResult(success = true, text = s"graft ${BuildInfo.version} (Spark ${spark.version})")

    case "help" =>
      CellResult(success = true, text = Help.text)

    case other =>
      CellResult(success = false, text = s"unknown magic: %$other")
  }
}

object BuildInfo { val version = "0.1.0" }

object Help {
  val text: String =
    """%sql [outputView= persist= numPartitions= numRows= truncate= showLog=]  — run SQL, register result
      |%sqlvalidate [name=]       — SQL returning [valid, message]; aborts on false
      |%metadata <view>           — column metadata as a table
      |%printmetadata <view>      — metadata-schema JSON
      |%schema <view>             — schema JSON
      |%printschema <view>        — schema tree
      |%list <uri>                — list files at uri
      |%env k=v ...               — session parameters (${k} substitution in SQL)
      |%secret k=v                — masked session parameter
      |%conf [numRows= truncate= streaming= streamingDuration= master= environment=]
      |                           — master= restarts the session; environment= filters %arc stages
      |%log                       — SQL result → structured log (visible via showLog=true)
      |%lifecycleplugin / %configplugin — register classpath plugins (hooks / param providers)
      |%summary <view>            — per-column statistics
      |%arc / bare HOCON or JSON  — run a stage-config pipeline cell
      |%explain <view> [mode=]    — formatted physical plan of a view
      |%version  %help""".stripMargin
}

/** `%list` — Hadoop FileSystem scan → DataFrame (reference
  * ArcInterpreter.scala:570-591).
  */
object FileList {
  final case class FileDisplay(
      path: String,
      name: String,
      modificationTime: java.sql.Timestamp,
      size: String,
      bytes: Long
  )

  def humanReadable(bytes: Long): String =
    if (bytes < 1024) s"$bytes B"
    else {
      val units = Seq("KB", "MB", "GB", "TB", "PB")
      val exp = math.min((math.log(bytes.toDouble) / math.log(1024)).toInt, units.size)
      f"${bytes / math.pow(1024, exp)}%.1f ${units(exp - 1)}"
    }

  def list(spark: SparkSession, uri: String): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(uri)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = fs.listStatus(path)
    statuses
      .map { s =>
        FileDisplay(
          s.getPath.toString,
          s.getPath.getName,
          new java.sql.Timestamp(s.getModificationTime),
          humanReadable(s.getLen),
          s.getLen
        )
      }
      .toSeq
      .toDF()
      .orderBy("name")
  }
}
