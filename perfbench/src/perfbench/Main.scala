package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark driver for one workload run.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  * <workDir> <recordPath> <startEpochMs>`.
  * `python3 perfbench/run.py` builds the classes and calls this; it then reduces the raw record
  * written here to the benchmark's metrics and checks its digests.
  *
  * The run: start the session (posture of `graft.Bench`: `local[cpus]`,
  * shuffle partitions = cpus, `graft.Scratch` placement), set the workload
  * up, run its warm cycles, then a fixed number of timed cycles:
  * `seconds / NominalCycleS`, at least 2. The count never depends on how
  * fast the program runs, so every metric always covers the same samples.
  * With trace 1, timed cycles alternate untraced and traced, so the
  * tracing overhead is measured in the same JVM.
  *
  * Outputs: every timed cycle's digest of each job kind must equal the
  * first timed cycle's; `run.py` checks those digests against the ones the
  * build checked against the DuckDB oracle ([[Train]]).
  */
object Main {

  /** Nominal wall time of one timed cycle: fixes how many cycles a run of
    * `seconds` measures. */
  val NominalCycleS = 10.0

  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The session posture of `graft.Bench`. */
  def session(appName: String): SparkSession = {
    val spark = graft.Scratch.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, recordPath, t0S) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traceMode = traceS == "1"
    val t0Ms = t0S.toLong
    def sinceStart(): Double = (System.currentTimeMillis() - t0Ms) / 1e3
    // a run must end well inside its 180 s allowance, however slow the host
    val deadlineS = 130.0

    val spark = session(s"perfbench-$workload")
    // setup_s's parts, each measured from the end of the one before
    val phases = collection.mutable.ArrayBuffer[(String, Double)]()
    def phase(name: String): Unit =
      phases += name -> (sinceStart() - phases.map(_._2).sum)
    phase("session_start_s")

    val probe = new StreamProbe
    spark.sparkContext.addSparkListener(probe)
    val h = new Harness(spark, probe)
    val staged = graft.Scratch.stage(data)
    val w = Workloads(workload, h, staged, work, seed)
    val cycles = collection.mutable.ArrayBuffer[Cycle]()
    val canary = collection.mutable.ArrayBuffer[(String, Double)]()

    // between cycles (untimed), `graft.Bench`'s settle between timed
    // passes: drop cached intermediates, collect, give the ContextCleaner a
    // beat and drain the RDD blocks it still holds, so one cycle's debris
    // never lands in the next. The old generation is read after one more
    // full GC, once the cleaner has released what the earlier ones freed:
    // broadcast values live on the driver's heap until it does, so collect
    // until the count of broadcast blocks stops falling.
    def settle(): Double = {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(100)
      var tries = 0
      while (tries < 4 && org.apache.spark.sql.GraftShim.pendingRddBlocks() > 0) {
        System.gc()
        Thread.sleep(150)
        tries += 1
      }
      var broadcasts = BenchBus.broadcastBlocks()
      var falling = true
      tries = 0
      while (falling && tries < 4) {
        System.gc()
        Thread.sleep(150)
        val now = BenchBus.broadcastBlocks()
        falling = now < broadcasts
        broadcasts = now
        tries += 1
      }
      OldGen.afterFullGcMb()
    }
    def run(c: Cycle): Unit = {
      w.prepare(c.index)
      h.runCycle(c)(w.cycle(c.index, new Random(seed * 1000003L + c.index)))
      c.filesLive = w.filesLive()
      c.oldGenMb = settle()
      cycles += c
    }

    w.setup()
    phase("workload_setup_s")
    // one warm cycle pays codegen and JIT warm-up; a traced run warms one
    // more, since its overhead is a difference of cycle times, which a
    // still-warming first timed cycle would bias
    val warmCycles = if (traceMode) 2 else 1
    (0 until warmCycles).foreach(k => run(new Cycle(k, timed = false, traced = false)))
    phase("warm_cycles_s")
    canary += "start" -> graft.BenchCanary.pass(spark)
    phase("canary_s")
    val setupS = sinceStart()
    System.err.println(f"[perfbench] $workload setup $setupS%.1f s")

    val measureT0 = System.nanoTime()
    val timedCycles = math.max(2, math.round(seconds / NominalCycleS).toInt)
    (0 until timedCycles).foreach { i =>
      if (sinceStart() < deadlineS) {
        val traced = traceMode && i % 2 == 1
        run(new Cycle(warmCycles + i, timed = true, traced = traced))
        if (i == timedCycles / 2 - 1) canary += "mid" -> graft.BenchCanary.pass(spark)
      }
    }
    val ranCycles = cycles.count(_.timed)
    if (ranCycles < timedCycles) {
      h.failures += s"deadline: ran $ranCycles of $timedCycles timed cycles"
      h.failed += 1
    }
    val measuredS = (System.nanoTime() - measureT0) / 1e9
    canary += "end" -> graft.BenchCanary.pass(spark)

    val record = Record.render(
      workload = workload, seed = seed, traceMode = traceMode, cpus = cpus,
      conf = spark.conf.getAll.toSeq.sortBy(_._1), setupPhases = phases.toSeq,
      setupS = setupS, measuredS = measuredS, cycles = cycles.toSeq,
      canary = canary.toSeq, h = h)
    Files.writeString(Paths.get(recordPath), record)
    spark.stop()
  }
}
