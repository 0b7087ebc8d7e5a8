package graft

import graft.operators.SkewLab

/** Measured skew-join artifact (VERDICT-r8 #6): run the [[SkewLab]]
  * Zipf-join under plain / AQE-split / salted on a real scale dir and
  * write the per-strategy partition histograms + q108-style diagnosis
  * as one JSON file — the empirical record that the remedies measurably
  * flatten the hot partition, at a scale where the hot partition is
  * megabytes, not toy rows.
  *
  * Usage: runMain graft.SkewDemo <sfDir> <outFile> [advisoryBytes=1MB] [salt=64]
  */
object SkewDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val advisory = if (args.length > 2) args(2) else "1MB"
    // salt ≫ shuffle partitions so the hot key's sub-keys spread evenly
    val salt = if (args.length > 3) args(3).toInt else 64
    val spark = Session.local(Session.cpus)

    val diag = SkewLab.diagnose(spark, sfDir).collect()
    val runs = Seq(
      SkewLab.run(spark, sfDir, "plain", salt, advisory),
      SkewLab.run(spark, sfDir, "aqe", salt, advisory),
      SkewLab.run(spark, sfDir, "salted", salt, advisory))
    require(runs.map(_.checksum).distinct.size == 1,
      s"strategies disagree on join content: ${runs.map(r => r.strategy -> r.checksum)}")
    require(runs.map(_.rows).distinct.size == 1)

    def runJson(r: SkewLab.SkewRun): String =
      s"""{"strategy":${Report.quote(r.strategy)},"rows":${r.rows},"partitions":${r.partitions},""" +
        s""""max_partition_share":${f"${r.maxShare}%.4f"},""" +
        s""""top_partitions_rows":[${r.top.mkString(",")}],""" +
        s""""plan_skew_split":${r.planSkewSplit},"wall_sec":${f"${r.wallSec}%.3f"}}"""
    val d0 = diag.head
    val diagJson =
      s"""{"heavy_keys":[${diag.map(r => s"""{"key":${r.getLong(1)},"cnt":${r.getLong(2)},"share":${r.getDouble(3)}}""").mkString(",")}],""" +
        s""""n_keys":${d0.getLong(4)},"max_cnt":${d0.getLong(5)},"p50_cnt":${d0.getLong(6)},"skew_factor":${d0.getDouble(7)}}"""
    val json =
      s"""{"sf_dir":${Report.quote(sfDir)},"advisory_bytes":${Report.quote(advisory)},"salt":$salt,
         |"diagnosis":$diagJson,
         |"runs":[${runs.map(runJson).mkString(",\n")}]}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
