package graft.tools

import graft.Session
import graft.sources.Io

/** CLI entry point for the full insurance medallion pipeline:
  * seeded generate → bronze → silver → gold under a base directory.
  *
  * Usage: runMain graft.tools.RunMedallion <baseDir> [scale] [seed]
  */
object RunMedallion {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse(
      sys.error("usage: RunMedallion <baseDir> [scale] [seed]"))
    val scale = if (args.length > 1) args(1).toDouble else 1.0
    val seed = if (args.length > 2) args(2).toLong else 42L
    val spark = Session.local("graft-medallion", Session.cpus(default = 4))
    Io.runAll(spark, baseDir, scale, seed)
    for (layer <- Seq("bronze", "silver", "gold");
         t <- new java.io.File(s"$baseDir/$layer").listFiles().map(_.getName).sorted) {
      val n = spark.read.parquet(s"$baseDir/$layer/$t").count()
      println(s"[medallion] $layer/$t: $n rows")
    }
    spark.stop()
  }
}
