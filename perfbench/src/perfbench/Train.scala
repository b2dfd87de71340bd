package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

/** The build's run (`perfbench/build.py`), once per build.
  *
  * One session runs one cycle of every workload, with each query-action
  * job also writing its output under `outDir/<kind>`, then writes a record
  * of each kind's digest and oracle SQL. The build compares those outputs
  * with the DuckDB oracle, and benchmark runs compare their digests with
  * the checked ones. The build starts this JVM with
  * `-XX:ArchiveClassesAtExit`, so the class-data archive every run maps
  * holds the classes a run of either workload loads.
  *
  * Usage: `perfbench.Train <dataDir> <workDir> <outDir> <recordPath>`.
  */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(data, work, outDir, recordPath) = args
    val spark = Main.session("perfbench-train")
    val probe = new StreamProbe
    spark.sparkContext.addSparkListener(probe)
    val h = new Harness(spark, probe)
    h.outputDir = Some(outDir)
    val staged = graft.Scratch.stage(data)
    Workloads.Names.foreach { name =>
      val w = Workloads(name, h, staged, s"$work/$name", seed = 0L)
      w.setup()
      w.prepare(0)
      h.runCycle(new Cycle(0, timed = true, traced = false))(w.cycle(0, new Random(0L)))
    }
    graft.BenchCanary.pass(spark)
    h.reference.foreach { case (kind, d) =>
      val written = Digest.of(spark.read.parquet(s"$outDir/$kind"))
      if (written != d) h.fail(kind, s"written output digest $written differs from the job's $d")
    }
    Files.writeString(Paths.get(recordPath), Record.training(h))
    spark.stop()
  }
}
