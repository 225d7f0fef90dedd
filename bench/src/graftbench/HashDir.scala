package graftbench

import java.nio.file.{Files, Paths}

/** Content hashes of `graft.Verify` output directories, in the form
  * `bench/expected.json` records for query_mix, so that the recorded hashes
  * can be tied to results the DuckDB oracle has checked:
  *
  *   HashDir <verifyOutDir> <query>...
  *
  * prints one `<query> <hash>` line per query.
  */
object HashDir {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.head)
    val work = Files.createTempDirectory("hashdir")
    val spark = Main.session(Main.Cores, Main.Cores, work)
    try args.tail.foreach { q =>
      val df = spark.read.parquet(dir.resolve(q).toString)
      println(s"$q ${QueryWorkload.contentHash(df)}")
    } finally { spark.stop(); Main.rmTree(work) }
  }
}
