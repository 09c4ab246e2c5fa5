package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one workload, runs its iterations
  * in a closed loop for the measured window, checks every iteration's
  * outputs, and prints one `PERFBENCH_RAW {json}` line of raw
  * measurements. `perfbench/run.py` turns that line into the metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(wlName, seedS, secondsS, traceS, workS) = args
    val wl = Workloads(wlName)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    graft.orchestration.JobRegistry.registerBuiltins()

    // ── set-up: session start, inputs, one warm-up iteration
    val t0 = System.nanoTime
    val spark = graft.core.Sessions.local(cores)
    val sessionS = (System.nanoTime - t0) / 1e9
    val in = wl.generate(spark, work.resolve("inputs"), seed)
    val genS = (System.nanoTime - t0) / 1e9 - sessionS
    wl.warmup(new Ctx(spark, tmp, None, None), in, work.resolve("warmup"))
    Dirs.rm(work.resolve("warmup"))
    val setupS = (System.nanoTime - t0) / 1e9
    System.err.println(f"[perfbench] setup: $setupS%.2f s (session $sessionS%.2f s, inputs $genS%.2f s)")

    // ── measured window: closed loop, one iteration after another
    val iterations = mutable.ArrayBuffer[Iteration]()
    val results = Some(work.resolve("results"))
    val ctx = new Ctx(spark, tmp, results, None)
    var n = 0
    var lastDir: Path = null
    def loop(window: Double, ctxOf: Int => Ctx, minIterations: Int = 1,
        around: (Int, () => Unit) => Unit = (_, body) => body()): Seq[Iteration] = {
      val out = mutable.ArrayBuffer[Iteration]()
      val start = System.nanoTime
      var dir: Path = null
      while (out.size < minIterations || (System.nanoTime - start) / 1e9 < window) {
        if (dir != null) Dirs.rm(dir)
        n += 1
        dir = work.resolve(s"iter-$n")
        val c = ctxOf(out.size + 1)
        val d = dir
        around(out.size + 1, () => out += wl.iteration(c, in, d))
        System.err.println(f"[perfbench] iteration $n: ${out.last.wallS}%.2f s, " +
          out.last.ops.map(o => f"${o.name} ${o.seconds}%.2f").mkString(", "))
      }
      lastDir = dir
      out.toSeq
    }
    var layers = Map.empty[String, Double]
    var spansJson = "[]"
    if (!traced) iterations ++= loop(seconds, _ => ctx)
    else {
      // untraced and traced iterations alternate in U T T U order, so both
      // are equally warm; the difference of their medians is the tracing
      // overhead
      val tracer = new Tracer(spark)
      val tctx = new Ctx(spark, tmp, results, Some(tracer))
      var compileS = 0.0
      val windows = mutable.ArrayBuffer[(Long, Long)]()
      def isTraced(i: Int) = i % 4 == 2 || i % 4 == 3
      val all = loop(seconds, i => if (isTraced(i)) tctx else ctx, minIterations = 4,
        around = (i, body) => if (!isTraced(i)) body() else {
          val c0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
          tracer.start()
          val w0 = System.currentTimeMillis
          body()
          windows += ((w0, System.currentTimeMillis))
          tracer.stop()
          compileS += (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - c0) / 1e9
        })
      val (tr, plain) = all.zipWithIndex.partition { case (_, i) => isTraced(i + 1) } match {
        case (t, p) => (t.map(_._1), p.map(_._1))
      }
      tracer.start()
      val probes = wl.probes(tctx, in, lastDir)
      tracer.stop()
      iterations ++= all
      layers = Layers.summarize(wl, tracer, tr, plain, windows.toSeq, cores, compileS, sessionS) ++ probes
      spansJson = tracer.spansJson
      val missing = Layers.names.filterNot(layers.contains)
      layers = layers ++ missing.map(_ -> 0.0) // layers this workload does not exercise
    }

    // ── self-test: a planted wrong answer must be caught by the check
    val selfTest = wl match {
      case ReferenceDags => ReferenceDags.selfTest(spark, in.asInstanceOf[Gen.DagInputs], lastDir)
      case _ => true // query_mix: run.py plants the wrong oracle answer
    }
    Dirs.rm(lastDir)

    val rss = java.nio.file.Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    spark.stop()

    val raw = Json.obj(
      "workload" -> wl.name,
      "seed" -> seed,
      "traced" -> traced,
      "nproc" -> cores,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS,
      "session_start_s" -> sessionS,
      "input_records" -> in.records,
      "input_bytes" -> in.bytes,
      "input_digest" -> in.digest,
      "self_test_caught_planted_error" -> selfTest,
      "peak_rss_mb" -> rss,
      "iterations" -> iterations.map(it => Json.Raw(Json.obj(
        "wall_s" -> it.wallS, "bytes_written" -> it.bytesWritten,
        "leaked_run_dirs" -> it.leakedRunDirs, "check" -> it.check,
        "ops" -> it.ops.map(o => Json.Raw(Json.obj("name" -> o.name, "s" -> o.seconds,
          "build_s" -> o.buildS, "ok" -> o.ok, "rows" -> o.rows, "error" -> o.error))))))
        .toSeq,
      "oracle_sql" -> (if (wl == QueryMix)
        QueryMix.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      else Map.empty[String, String]),
      "layers" -> layers,
      "spans" -> Json.Raw(spansJson))
    println("PERFBENCH_RAW " + raw)
  }
}
