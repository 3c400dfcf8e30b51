package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.json4s.JsonAST._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{GoldenWrite, QueryDef}

/** One benchmark JVM. `perfbench/run.py` launches it and turns the raw
  * per-key records it writes into metrics.
  *
  *   graftbench.Main --keys <sel,...> --seed <n> --warm <passes>
  *       --trace <0|1> --out <file>
  *
  * It sets up a session (plus the untimed warm-up), runs one cold pass,
  * computes each key's sf0.001 rows and hash for the golden check
  * (untimed), then runs `passes` warm passes over the keys. Each pass
  * records the JVM's CPU time and the machine's steal time.
  *
  * A selector is a key id (`g40`) or a family (`b*`). The seed only
  * permutes the key order of each pass. With `--trace 1` a [[Trace]]
  * listener is attached. The cold pass and the even warm passes are
  * traced; warm pass 1 (settling) and the other odd ones are not, so the
  * run measures its own overhead on equally warm passes.
  */
object Main {
  /** Every module whose `defs` feed `SparkEntry.all`, by qualified name. */
  val modules: Seq[(String, Seq[QueryDef])] = {
    import graft.{functions => f, operators => o, pipeline => p}
    Seq(
      "operators.ScansFilters" -> o.ScansFilters.defs,
      "operators.Joins" -> o.Joins.defs,
      "operators.Aggregates" -> o.Aggregates.defs,
      "operators.Windows" -> o.Windows.defs,
      "operators.SortSetScalar" -> o.SortSetScalar.defs,
      "operators.EventTime" -> o.EventTime.defs,
      "operators.Reports" -> o.Reports.defs,
      "pipeline.Dedup" -> p.Dedup.defs,
      "pipeline.Curation" -> p.Curation.defs,
      "pipeline.Similarity" -> p.Similarity.defs,
      "pipeline.TextAnalysis" -> p.TextAnalysis.defs,
      "pipeline.Multimodal" -> p.Multimodal.defs,
      "functions.Udfs" -> f.Udfs.defs)
  }

  private def keyId(d: QueryDef): String = d.key.takeWhile(_ != '_')

  /** Resolve selectors to (module, def), in `SparkEntry.all` order. */
  def select(selectors: Seq[String]): Seq[(String, QueryDef)] = {
    val all = for ((m, ds) <- modules; d <- ds) yield (m, d)
    def hits(s: String) =
      if (s.endsWith("*")) all.filter(_._2.key.startsWith(s.dropRight(1)))
      else all.filter(x => keyId(x._2) == s || x._2.key == s)
    val missing = selectors.filter(hits(_).isEmpty)
    require(missing.isEmpty, s"unknown key selectors: ${missing.mkString(", ")}")
    val chosen = selectors.flatMap(hits).map(_._2.key).toSet
    all.filter(x => chosen(x._2.key))
  }

  /** The scale-factor directories: sf0.001 is the golden manifest's
    * corpus; the timed sf0.1 corpus sits beside it. */
  def sfDirs: (String, String) = {
    val small = sys.env.getOrElse("GRAFT_BENCH_GOLDEN_SF_DIR", GoldenWrite.sfDir)
    val big = sys.env.getOrElse("GRAFT_BENCH_SF_DIR",
      Paths.get(small).resolveSibling("sf0.1").toString)
    (small, big)
  }

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Paths.get(System.getProperty("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench`'s untimed warm-up pair. */
  private def warmUp(spark: SparkSession, small: String): Unit = {
    val q = graft.SparkEntry.queries
    q("c1_join_broadcast")(spark, small).count()
    q("e1_win_rank")(spark, small).count()
    spark.catalog.clearCache()
  }

  private def now: Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)

  /** Peak resident set of this JVM so far, in kB (Linux `VmHWM`). */
  private def peakRssKb: Long = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    lines.toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }

  private def counters(c: Counters): JValue = JObject(
    "jobs" -> JLong(c.jobs), "stages" -> JLong(c.stages),
    "stages_retried" -> JLong(c.stagesRetried), "tasks" -> JLong(c.tasks),
    "tasks_failed" -> JLong(c.tasksFailed), "in_jobs_ms" -> JLong(c.inJobsMs),
    "run_ms" -> JLong(c.runMs), "cpu_ns" -> JLong(c.cpuNs),
    "gc_ms" -> JLong(c.gcMs), "deser_ms" -> JLong(c.deserMs),
    "task_skew" -> JDouble(c.taskSkew),
    "shuffle_write_bytes" -> JLong(c.shWriteBytes),
    "shuffle_write_records" -> JLong(c.shWriteRecs),
    "shuffle_read_bytes" -> JLong(c.shReadBytes),
    "fetch_wait_ms" -> JLong(c.fetchWaitMs),
    "spill_memory_bytes" -> JLong(c.spillMemBytes),
    "spill_disk_bytes" -> JLong(c.spillDiskBytes),
    "input_bytes" -> JLong(c.inBytes), "input_records" -> JLong(c.inRecs),
    "output_bytes" -> JLong(c.outBytes), "output_records" -> JLong(c.outRecs),
    "analysis_ms" -> JLong(c.analysisMs), "optimizer_ms" -> JLong(c.optimizerMs),
    "physical_ms" -> JLong(c.physicalMs), "queries" -> JLong(c.queries))

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far. */
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Seconds of steal time over all CPUs of the machine so far: time a
    * hypervisor ran something else on this machine's virtual CPUs. */
  private def stealS: Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toLong / 100.0 else 0.0
  }

  def main(args: Array[String]): Unit = {
    val entered = now
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val out = Paths.get(opt("--out"))
    val cores = Runtime.getRuntime.availableProcessors
    val (small, big) = sfDirs
    val trace = opt.get("--trace").contains("1")
    val chosen = select(opt("--keys").split(",").toSeq)

    val spark = session(cores)
    val tracer = if (trace) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    val sessionUp = now
    warmUp(spark, small)
    val ready = now
    val setupCpu = cpuS
    // the warm-up's query executions carry no key: settle them, untimed,
    // before the first traced key
    if (trace) BenchBus.drain(spark.sparkContext)
    val setup = JObject("main_epoch_s" -> JDouble(entered),
      "session_epoch_s" -> JDouble(sessionUp), "ready_epoch_s" -> JDouble(ready),
      "setup_cpu_s" -> JDouble(setupCpu))
    val seed = opt("--seed").toLong
    val warm = opt("--warm").toInt
    val sc = spark.sparkContext

    /** One key: build (`fn`), action (`count`), then Bench's clearCache,
      * all inside the key's wall. Draining the bus happens after. */
    def runKey(pass: Int, traced: Boolean, module: String, d: QueryDef): JValue = {
      val tag = s"$pass:${d.key}"
      if (traced) { tracer.get.current = tag; sc.setLocalProperty(Trace.KeyProp, tag) }
      val t0 = System.nanoTime()
      var t1 = t0; var t2 = t0
      val res: Either[String, Long] =
        try {
          val df = d.fn(spark, big)
          t1 = System.nanoTime()
          val n = df.count()
          t2 = System.nanoTime()
          Right(n)
        } catch { case e: Throwable =>
          e.printStackTrace()
          Left(errorText(e))
        } finally spark.catalog.clearCache()
      val t3 = System.nanoTime()
      val tr = tracer.filter(_ => traced).map { t =>
        sc.setLocalProperty(Trace.KeyProp, null)
        BenchBus.drain(sc)
        t.current = null
        counters(t.take(tag))
      }
      JObject(List(
        "key" -> JString(d.key), "module" -> JString(module),
        "build_s" -> JDouble((t1 - t0) / 1e9),
        "action_s" -> JDouble((t2 - t1) / 1e9),
        "wall_s" -> JDouble((t3 - t0) / 1e9),
        "rows" -> res.fold(_ => JNull, JLong(_)),
        "error" -> res.fold(JString(_), _ => JNull)) ++
        tr.map("trace" -> _))
    }

    def runPass(pass: Int, traced: Boolean): JValue = {
      val order = new scala.util.Random(seed * 7919L + pass).shuffle(chosen)
      val (c0, s0) = (cpuS, stealS)
      val keys = order.map { case (m, d) => runKey(pass, traced, m, d) }
      val (c1, s1) = (cpuS, stealS)
      // an untraced pass leaves events on the bus; settle them untimed
      if (trace && !traced) BenchBus.drain(sc)
      JObject("pass" -> JInt(pass), "traced" -> JBool(traced),
        "cpu_s" -> JDouble(c1 - c0), "steal_s" -> JDouble(s1 - s0), "keys" -> JArray(keys.toList))
    }

    val cold = runPass(0, traced = trace)
    val goldenStart = now
    // untimed; it also runs every key once more before the warm passes
    val golden = chosen.map { case (_, d) =>
      d.key -> (try {
        val (n, h) = GoldenWrite.rowsHash(d.fn(spark, small))
        JObject("rows" -> JLong(n), "hash" -> JString(h))
      } catch { case e: Throwable =>
        e.printStackTrace()
        JObject("error" -> JString(errorText(e)))
      } finally spark.catalog.clearCache())
    }
    if (trace) BenchBus.drain(sc)
    val goldenEnd = now
    val passes = cold +: (1 to warm).map(p => runPass(p, traced = trace && p % 2 == 0))
    val rssKb = peakRssKb
    // what fixtures and caches still hold once every key has run at both
    // scale factors
    System.gc()
    val retainedHeap =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Files.writeString(out, compact(render(setup ~ JObject(
      "cores" -> JInt(cores),
      "sf_dir" -> JString(big),
      "peak_rss_kb" -> JLong(rssKb),
      "retained_heap_bytes" -> JLong(retainedHeap),
      "golden_s" -> JDouble(goldenEnd - goldenStart),
      "passes" -> JArray(passes.toList),
      "golden" -> JObject(golden.toList)))))
    spark.stop()
  }
}
