package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Runs one workload of the benchmark and writes its raw observations as
  * JSON. Metrics and correctness verdicts are computed from that file by
  * perfbench/run.py.
  *
  * {{{
  * Main --workload notebook|stores --ops ops.json --data DIR --work DIR
  *      --seconds S --trace 0|1 --out result.json
  * }}}
  *
  * The measured window counts only the time spent inside operations. With
  * `--trace 1` the run measures three windows — untraced, traced, untraced —
  * so the traced run also reports its own overhead, with the JVM's warming
  * between windows falling on both sides; the notebook replays its script
  * from the first cell in each window. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val ops = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(a("ops"))), UTF_8))
    val cores = Runtime.getRuntime.availableProcessors

    val w: Workload = workload match {
      case "notebook" => new Notebook(ops, a("data"), s"$work/out")
      case "stores"   => new Stores(ops, a("data"), work)
      case other      => sys.error(s"unknown workload $other")
    }

    // set-up: a session built the way the REPL builds one, then the
    // workload's state and warm-up on it
    val setup0 = Clock.nowMs
    val spark = graft.repl.Boot.buildSession(s"local[$cores]")
    spark.sparkContext.setLogLevel("ERROR")
    w.setUp(spark)
    val setupS = (Clock.nowMs - setup0) / 1000.0

    val tracer = new Tracer
    val results = scala.collection.mutable.ArrayBuffer.empty[(OpResult, Int, Boolean, JValue)]
    // runs one window from `firstInput`; returns the input after its last
    def loop(budgetS: Double, firstInput: Int): Int = {
      var spent = 0.0
      var input = firstInput
      while ((spent < budgetS * 1000 || !w.mayStop(input - firstInput)) && input < w.size) {
        val i = results.size
        val r = w.step(i, input, tracer)
        if (tracer.active) tracer.drain(spark)
        results += ((r, input, tracer.active, if (tracer.active) w.traceExtra(i) else JNothing))
        spent += r.end - r.start
        input += 1
      }
      input
    }
    val next = loop(seconds, 0)
    if (trace) {
      tracer.attach(spark)
      w match {
        case n: Notebook => n.addHook(tracer.stageHook)
        case _           => ()
      }
      val after = loop(seconds, w.nextWindow(next))
      tracer.detach(spark)
      loop(seconds, w.nextWindow(after))
    }

    // retained heap: what stays reachable after a full collection, once the
    // context cleaner has dropped what the first collection released
    System.gc(); Thread.sleep(1000); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val out = JObject(
      "workload" -> JString(workload),
      "cores" -> JInt(cores),
      "setup_s" -> JDouble(setupS),
      "heap_mb" -> JDouble(heapMb),
      "ops" -> JArray(results.toList.zipWithIndex.map { case ((r, input, traced, extra), i) =>
        JObject("i" -> JInt(i), "input" -> JInt(input), "kind" -> JString(r.kind), "start" -> JDouble(r.start),
          "end" -> JDouble(r.end), "ok" -> JBool(r.ok), "err" -> JString(r.err),
          "traced" -> JBool(traced), "out" -> r.out, "disk" -> extra)
      }),
      "trace" -> (if (trace) tracer.toJson else JNothing))
    Files.write(Paths.get(a("out")), JsonMethods.compact(JsonMethods.render(out)).getBytes(UTF_8))
    spark.stop()
  }
}
