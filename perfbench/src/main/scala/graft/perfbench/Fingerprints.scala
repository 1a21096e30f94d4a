package graft.perfbench

import org.apache.spark.sql.SaveMode

/** Regenerates `batch_sweep`'s committed expectations. For each named
  * query it writes the result as parquet under `<out>/<query>` with
  * `<out>/oracle_sql.json` beside them, so `tools/check.py <data> <out>`
  * can grade them against DuckDB, and prints one fingerprint line per
  * query. Commit the lines only when check.py reports ALL OK.
  *
  * Usage: `graft.perfbench.Fingerprints <dataDir> <outDir> <query>...` */
object Fingerprints {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir) = args.take(2)
    val names = args.drop(2).toSeq
    val ctx = new RunCtx("fingerprints", 0L, 0, traced = false, dataDir, outDir, "", "")
    val spark = ctx.session()
    val lines = names.map { name =>
      val df = graft.SparkEntry.queries(name)(spark, dataDir)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
      val fp = Check.fingerprint(df.schema, rows)
      s"$name\t${fp.rows}\t${fp.hash}"
    }
    val oracle = names.map(n => Json.quote(n) + ":" + Json.quote(graft.SparkEntry.oracleSql(n)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      oracle.mkString("{", ",", "}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/sweep_fingerprints.tsv"),
      lines.mkString("", "\n", "\n"))
    lines.foreach(println)
    spark.stop()
  }
}
