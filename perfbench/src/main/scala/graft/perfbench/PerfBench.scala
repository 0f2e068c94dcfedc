package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Closed-loop benchmark harness: one client thread issues the next op only
  * after the previous op's action has completed.
  *
  * Protocol of one run (one JVM): build the session, warm it up, run the
  * workload's setup, run one cold first pass in the listed op order, then
  * run steady passes until `--seconds` have elapsed (at least the
  * workload's `minPasses`). Each steady pass runs every op of the workload
  * once, in an order drawn from the seed. Between ops, outside the timed region, it clears the cache and
  * reclaims scratch (the build → act → clean order the catalog requires);
  * after each pass it runs a full GC and records the live heap.
  *
  * With `--trace 1`, steady passes alternate traced and untraced; traced
  * passes record spans and tag Spark jobs with the op, and the untraced
  * ones give the tracing overhead. All raw samples go to `--out` as JSON;
  * `perfbench/run.py` turns them into metrics.
  *
  * Usage: PerfBench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --fixture <dir> --work <dir> --out <file>
  */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val fixture = a("fixture")
    val work = a("work")
    val out = mutable.LinkedHashMap.empty[String, Any]

    val tracer = new Tracer(traceOn)
    val t0 = System.nanoTime()
    val spark = tracer.span("session.build")(GraftSession.build("perfbench"))
    val sessionReadyMs = System.currentTimeMillis()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tap = new Tap
    if (traceOn) {
      spark.sparkContext.addSparkListener(tap)
      spark.listenerManager.register(tap)
    }
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)

    val warmS = timed(tracer.span("session.warm") {
      spark.range(1000).selectExpr("sum(id)").collect()
      Workloads.fingerprint(SparkEntry.queries("a1_count_star")(spark, fixture))
    })._2

    val wl = Workloads(workload, spark, fixture, seed, work, tracer)
    val setupS = timed(wl.setup())._2
    clean(spark)
    out ++= Seq("workload" -> workload, "seed" -> seed, "trace" -> traceOn,
      "session_ready_ms" -> sessionReadyMs, "session_s" -> sessionS,
      "warm_s" -> warmS, "setup_builds_s" -> setupS,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> sc.defaultParallelism)

    val rng = new scala.util.Random(seed)
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var checksFailed = Vector.empty[String]

    def runPass(pass: Int, traced: Boolean): Unit = {
      tracer.on = traced
      val listed = wl.ops(pass)
      // the cold pass keeps the listed order: which op runs first pays
      // most of the class loading and JIT, so a seeded order would make
      // first_pass_s depend on the seed
      val ops = if (wl.reorder && pass >= 0) rng.shuffle(listed) else listed
      val before = Probes.sample()
      ops.zipWithIndex.foreach { case (op, i) =>
        val id = s"p$pass/$i/${op.name}"
        if (traced) { tap.current = id; sc.setLocalProperty(Tap.OpKey, id) }
        val ((res, err), wall) = timed {
          try (Some(tracer.op(id)(tracer.span(op.layer)(op.run()))), None)
          catch { case e: Throwable =>
            (None, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"))
          }
        }
        val sample = mutable.LinkedHashMap[String, Any]("pass" -> pass, "op" -> op.name,
          "layer" -> op.layer, "wall_s" -> wall, "traced" -> traced,
          "rows" -> res.map(_.rows).getOrElse(-1L), "hash" -> res.map(_.hash).getOrElse(""),
          "written" -> res.map(_.written).getOrElse(0L), "error" -> err.orNull)
        if (traced) {
          drain()
          val s = tap.take(id)
          sample ++= Seq("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
            "failed_tasks" -> s.failedTasks, "job_s" -> s.jobSeconds,
            "executor_cpu_s" -> s.execCpuNs / 1e9, "sched_delay_s" -> s.schedDelayMs / 1e3,
            "shuffle_read_mb" -> s.shuffleRead / 1e6, "shuffle_write_mb" -> s.shuffleWrite / 1e6,
            "spill_mb" -> s.spill / 1e6, "input_mb" -> s.input / 1e6,
            "output_mb" -> s.output / 1e6,
            "writes_s" -> s.writeNsByPath.map { case (p, ns) => p -> ns / 1e9 }.toMap)
          sc.setLocalProperty(Tap.OpKey, null)
          tap.current = ""
          if (i == ops.size - 1) {
            val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
            val (wb, wf) = Probes.du(wh.toUri.getPath)
            val (_, ef) = Probes.du(s"$work/weather")
            sample ++= Seq("store_bytes" -> wb, "store_files" -> wf, "weather_files" -> ef)
          }
        }
        err.foreach(e => System.err.println(s"[perfbench] ${op.name} FAILED: $e"))
        samples += sample.toMap
        clean(spark)
      }
      val d = Probes.sample().minus(before)
      val liveMb = liveHeapMb()
      val failures = wl.afterPass(pass)
      failures.foreach(f => System.err.println(s"[perfbench] pass $pass check FAILED: $f"))
      checksFailed = checksFailed ++ failures
      passes += Map("pass" -> pass, "traced" -> traced, "ops" -> ops.size,
        "wall_s" -> d.wallNs / 1e9, "cpu_s" -> d.ownCpuS,
        "box_cpu_s" -> d.boxCpuS, "gc_s" -> d.gcS, "alloc_mb" -> d.allocMb,
        "io_read_mb" -> d.readMb, "io_write_mb" -> d.writeMb, "live_heap_mb" -> liveMb,
        "checks" -> (failures.size + 1),
        "checks_failed" -> failures.size)
    }

    runPass(-1, traced = false)
    val steady0 = System.nanoTime()
    var p = 0
    // a traced run needs one traced and one untraced pass
    val minPasses = math.max(wl.minPasses, if (traceOn) 2 else 1)
    while (p < minPasses || (System.nanoTime() - steady0) / 1e9 < seconds) {
      runPass(p, traced = traceOn && p % 2 == 0)
      p += 1
    }
    out ++= Seq("steady_s" -> (System.nanoTime() - steady0) / 1e9,
      "passes" -> passes.toSeq, "samples" -> samples.toSeq,
      "checks_failed" -> checksFailed,
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9)),
      "peak_rss_mb" -> Probes.peakRssMb())
    Files.writeString(Paths.get(a("out")), Json(out.toMap))
    spark.stop()
  }

  /** Heap still reachable after full collections, MB. Spark's
    * ContextCleaner frees broadcast and shuffle state on its own thread only
    * after a collection has queued their references, so it collects four
    * times, 100 ms apart, and keeps the lowest reading. Run after each
    * pass, outside the timed region, it also starts every pass with the
    * same empty young generation.
    */
  private def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    val readings = (1 to 4).map { i =>
      if (i > 1) Thread.sleep(100)
      System.gc()
      (rt.totalMemory - rt.freeMemory) / 1e6
    }
    readings.min
  }

  private def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Drop cached frames and reclaim every scratch stage. */
  private def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.StageIO.cleanScratch(spark)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans and null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
