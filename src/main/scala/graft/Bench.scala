package graft
import org.apache.spark.sql.SparkSession
object Bench {

  // error messages can carry newlines/tabs from exception text, which
  // would otherwise break the driver's json parse — Protocol holds the
  // one escape rule shared with Verify's oracle_sql.json
  private def jq(s: String): String = Protocol.jsonString(s)

  // Locale.ROOT: the f-interpolator uses the JVM default locale, which
  // can render "54,693" under a comma-decimal locale — invalid JSON,
  // resurrecting the exact parse failure this protocol exists to fix
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", v)

  /** Per-key merge across repeated passes: keep the MIN time of any
    * successful run (sandbox weather only ever ADDS time — r8/r9 both
    * burned a judge cycle re-litigating between-session machine-load
    * drift; min-of-two is the protocol that ends that), and surface an
    * error only if the key failed in EVERY pass.
    */
  private[graft] def mergePasses(
      passes: Seq[Seq[(String, Either[String, Double])]])
      : Seq[(String, Either[String, Double])] = {
    val keys = passes.head.map(_._1)
    val byKey = passes.flatten.groupBy(_._1)
    keys.map { k =>
      val outcomes = byKey(k).map(_._2)
      val oks = outcomes.collect { case Right(v) => v }
      k -> (if (oks.nonEmpty) Right(oks.min) else outcomes.head)
    }
  }

  /** Fold one pass outcome into the best-known outcome for a key: min of
    * any successful time (sandbox weather only ever ADDS time), error
    * only while EVERY pass so far failed — first error kept. The same
    * law [[mergePasses]] applies batch-wise, factored out so the
    * incremental emitter below provably implements it. */
  private[graft] def mergeOutcome(
      prev: Option[Either[String, Double]],
      next: Either[String, Double]): Either[String, Double] =
    (prev, next) match {
      case (Some(Right(a)), Right(b)) => Right(a min b)
      case (Some(Right(a)), Left(_))  => Right(a)
      case (Some(Left(_)), Right(b))  => Right(b)
      case (Some(l @ Left(_)), Left(_)) => l
      case (None, o) => o
    }

  /** KILL-SURVIVABLE emission (the r13 incident: the driver's 3600 s
    * `timeout` SIGTERMed the old end-of-suite emission and the round
    * lost ALL per-key numbers — `rc: 124, parsed: null`): the bench
    * re-renders and prints the full (line1, line2) pair after EVERY
    * completed key. The driver keeps only the TAIL of stdout, so the
    * last COMPLETE pair always parses whatever instant the kill lands —
    * a mid-suite SIGTERM costs at most the one key in flight, never the
    * round. Instantiated once per bench run; `record` returns the pair
    * to print so BenchProtocolSpec can replay arbitrary truncations. */
  private[graft] final class Emitter(sfDir: String, repeats: Int) {
    private val best = scala.collection.mutable.LinkedHashMap
      .empty[String, Either[String, Double]]
    def record(name: String,
        outcome: Either[String, Double]): (String, String) = {
      best(name) = mergeOutcome(best.get(name), outcome)
      renderLines(best.toSeq, sfDir, repeats)
    }
    def results: Seq[(String, Either[String, Double])] = best.toSeq
  }

  /** Render the two-line stdout protocol from per-key outcomes.
    * Right(seconds) = timed success; Left(message) = the key FAILED —
    * it appears in the `errors` map, is excluded from the total, and is
    * counted in `n_errors`. Before this channel existed a broken key
    * swallowed its exception and benched as a small positive time — the
    * r5 incident where a regression hid inside a "fast" number.
    */
  private[graft] def renderLines(
      results: Seq[(String, Either[String, Double])],
      sfDir: String,
      repeats: Int): (String, String) = {
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val bad = results.collect { case (k, Left(m)) => k -> m }
    val qs = ok.map { case (k, v) => jq(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    val errs = bad.map { case (k, m) => jq(k) + ":" + jq(m) }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // protocol: the harness keeps only the TAIL of stdout, so the per-query
    // detail (a multi-KB map) goes out FIRST and the LAST line is a compact
    // machine-parseable total that always fits the tail window.
    val line1 =
      s"""{"detail":"per_query","queries":$qs,"errors":$errs,"sf":${jq(sfDir)}}"""
    val line2 = s"""{"metric":"total","value":${num(total)},"unit":"sec"""" +
      s""","n_queries":${ok.length},"n_errors":${bad.length}""" +
      s""","repeats":$repeats,"sf":${jq(sfDir)}}"""
    (line1, line2)
  }

  /** Untimed warm-up at the smallest sf: JVM/codegen/parquet-footer
    * costs are one-off session costs, not per-query costs. A failure goes
    * to stderr (stdout is the protocol): a silently skipped warm-up
    * inflates the first measured key. */
  private[graft] def warmUp(spark: SparkSession): Unit =
    try {
      SparkEntry.queries("c1_join_broadcast")(spark, "/root/testdata/sf0.001").count()
      SparkEntry.queries("e1_win_rank")(spark, "/root/testdata/sf0.001").count()
    } catch { case e: Throwable =>
      System.err.println(s"[warmup] failed, the first key runs cold: ${errorText(e)}")
    }

  // first line of the exception is the actionable part
  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)

  /** One key, timed the bench's way: count the result, then drop its
    * persist()ed blocks BEFORE taking the time, so the unpersist cost is
    * counted against the query that cached — fair, since a lone run
    * would pay it too — and the suite's memory footprint stays flat.
    * Returns Right(rows) or Left(error text), and the seconds. */
  private[graft] def timeKey(spark: SparkSession, key: String,
      sfDir: String): (Either[String, Long], Double) = {
    val t0 = System.nanoTime()
    val outcome =
      try Right(SparkEntry.queries(key)(spark, sfDir).count())
      catch { case e: Throwable =>
        // the full stack goes to stderr so the stdout protocol stays two-line
        e.printStackTrace()
        Left(errorText(e))
      }
    spark.catalog.clearCache()
    (outcome, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus())
    warmUp(spark)
    // r9 judge protocol: two back-to-back passes, per-key MIN recorded,
    // so round-over-round diffs stop absorbing sandbox weather
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2")
      .toInt.max(1)
    val emitter = new Emitter(sfDir, repeats)
    for (_ <- 1 to repeats; name <- SparkEntry.queries.keys.toSeq.sorted) {
      val (outcome, dt) = timeKey(spark, name, sfDir)
      // print the protocol pair NOW (kill-survivability — see Emitter):
      // a SIGTERM between keys leaves the last complete pair in the tail
      val (line1, line2) = emitter.record(name, outcome.map(_ => dt))
      println(line1)
      println(line2)
      Console.out.flush()
    }
    spark.stop()
  }
}
