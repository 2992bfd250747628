package graftbench

import graft.{CachePool, Fixtures, Sessions, SparkEntry, Tables}
import graft.streaming.StreamStats
import org.apache.spark.sql.SparkSession
import org.apache.spark.BusDrain
import java.nio.file.{Files, Paths}

/** Minimal JSON writers (the harness only emits flat records). */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Cold-pool workload runner. One process runs one workload:
  *
  *  1. set-up, three times (once with `trace`, which does not report
  *     it; the last session is kept): `Sessions.local`, listener
  *     registration and the parquet-footer warm-up `graft.Bench` does;
  *  2. the ambient-load probe `graft.Bench` calibrates with;
  *  3. one warm-up pass, discarded from the timings, that writes every
  *     query's output as parquet with `oracle_sql.json` for
  *     `tools/check.py`;
  *  4. without `trace`, timed passes with the listener off, while the
  *     next pass still fits in `seconds` (at least one);
  *  5. with `trace`, instead, four passes in the order traced, paired,
  *     paired, traced, with the listener on in the traced ones, so tracing
  *     overhead is measured against untraced passes at the same point of
  *     JIT warm-up on average;
  *  6. the ambient-load probe again.
  *
  * Every pass gets `spark.newSession()` and `catalog.clearCache()`, so
  * CachePool (keyed by session) starts empty. One line of JSON per pass
  * goes to `<out>/passes.jsonl`; `perfbench/run.py` reduces them.
  *
  * Usage: PerfBench <data-dir> <out-dir> <cores> <seconds> <trace 0|1>
  *        <query,query,...>
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, coresArg, secondsArg, traceArg, queryArg) =
      args
    val cores = coresArg.toInt
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val setups = if (trace) 1 else 3
    val names = queryArg.split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns = names.map(n => n -> SparkEntry.queries(n))
    Files.createDirectories(Paths.get(outDir))
    val sink = Files.newBufferedWriter(Paths.get(outDir, "passes.jsonl"))
    def emit(line: String): Unit = { sink.write(line); sink.newLine(); sink.flush() }

    // ---- set-up -------------------------------------------------------
    var spark: SparkSession = null
    val listener = new BenchListener
    val setupS = (1 to setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores, "graft-perfbench")
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.addSparkListener(listener)
      Tables.names.foreach(t => Tables.load(spark, dataDir, t).count())
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    emit(Json.obj(Seq("kind" -> Json.str("setup"),
      "setup_s" -> Json.arr(setupS.map(Json.num)))))

    def probe(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 50000000L).selectExpr("sum(id * 3 % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // CPU time of the whole process: all threads, JIT and GC included
    def cpuNanos(): Long = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

    // ---- one pass ---------------------------------------------------------
    def runPass(kind: String, traced: Boolean = false,
        dump: Option[String] = None): Double = {
      val s = spark.newSession()
      s.catalog.clearCache()
      BusDrain(sc)
      StreamStats.drainProgress(); Fixtures.drainBuilt()
      CachePool.drainBuilt(); CachePool.drainTouched()
      listener.drainJson(0L)
      listener.on = traced
      val epoch0 = System.currentTimeMillis()
      val cpu0 = cpuNanos()
      val t0 = System.nanoTime()
      def rel(t: Long) = Json.num((t - t0) / 1e9)
      val qs = fns.zipWithIndex.map { case ((name, fn), qi) =>
        var spans = Vector.empty[(String, String)]
        def phase[T](p: String)(body: => T): T = {
          sc.setLocalProperty(BenchListener.Prop, s"$qi:$p")
          val a = System.nanoTime()
          try body
          finally {
            spans :+= p -> Json.arr(Seq(rel(a), rel(System.nanoTime())))
            sc.setLocalProperty(BenchListener.Prop, null)
          }
        }
        var rows = -1L
        var error: String = null
        var pool = Seq.empty[(String, Double)]
        var phases = Seq.empty[(String, String)]
        try {
          val df = phase("build")(fn(s, dataDir))
          pool = CachePool.drainBuilt()
          phase("plan")(df.queryExecution.executedPlan)
          // The dumping pass executes each query once, by writing its
          // output for the check instead of counting it.
          dump match {
            case Some(dir) => phase("exec")(df.coalesce(1).write
              .mode("overwrite").parquet(s"$dir/$name"))
            case None => rows = phase("exec")(df.queryExecution.toRdd.count())
          }
          phases = df.queryExecution.tracker.phases.toSeq.sortBy(_._1)
            .map { case (k, v) => k -> v.durationMs.toString }
        } catch { case e: Throwable =>
          // an output dir without parquet reads as FAIL in check.py
          dump.foreach(dir => Files.createDirectories(Paths.get(dir, name)))
          error = s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator.take(1)
              .mkString.take(300)}"
          System.err.println(s"[perfbench] $name FAILED: $error")
        }
        pool ++= CachePool.drainBuilt()
        val fixture = Fixtures.drainBuilt()
        val touched = CachePool.drainTouched()
        val batches = StreamStats.drainProgress().map { p =>
          def ms(k: String): Long =
            Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          Json.obj(Seq("t0" -> Json.num((start - epoch0) / 1000.0),
            "trigger_s" -> Json.num(ms("triggerExecution") / 1000.0),
            "addbatch_s" -> Json.num(ms("addBatch") / 1000.0)))
        }
        def tagged(xs: Seq[(String, Double)]) =
          Json.arr(xs.map { case (t, d) => Json.arr(Seq(Json.str(t), Json.num(d))) })
        Json.obj(Seq("name" -> Json.str(name), "rows" -> rows.toString,
          "error" -> (if (error == null) "null" else Json.str(error)),
          "spans" -> Json.obj(spans), "pool" -> tagged(pool),
          "fixture" -> tagged(fixture),
          "touched" -> Json.arr(touched.map(Json.str)),
          "phases_ms" -> Json.obj(phases), "batches" -> Json.arr(batches)))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos() - cpu0) / 1e9
      val cacheBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      BusDrain(sc)
      listener.on = false
      val (jobs, stages) = listener.drainJson(epoch0)
      emit(Json.obj(Seq("kind" -> Json.str(kind),
        "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
        "cache_bytes" -> cacheBytes.toString,
        "queries" -> Json.arr(qs), "jobs" -> jobs, "stages" -> stages)))
      s.catalog.clearCache()
      wall
    }

    val probePre = probe()
    val dumpDir = s"$outDir/dump"
    runPass("warmup", dump = Some(dumpDir))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    if (trace) {
      // traced, paired, paired, traced: the JIT-warm-up trend cancels
      runPass("traced", traced = true)
      runPass("paired"); runPass("paired")
      runPass("traced", traced = true)
    } else {
      val tm0 = System.nanoTime()
      var last = 0.0
      while (last == 0.0 || (System.nanoTime() - tm0) / 1e9 + last <= seconds)
        last = runPass("timed")
    }
    val probePost = probe()
    emit(Json.obj(Seq("kind" -> Json.str("probe"),
      "pre_s" -> Json.num(probePre), "post_s" -> Json.num(probePost))))
    sink.close()
    spark.stop()
  }
}
