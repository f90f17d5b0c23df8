package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Records the fingerprint of every registry row over one data directory,
  * the file the `registry_sf0.01` workload checks against. Runs the
  * registry three times (each row with released caches) and refuses to
  * write if a row fails or its fingerprint differs between passes. Prints
  * `name<TAB>seconds per pass` for every row on stdout.
  *
  * Usage: perfbench.Record DATA_DIR OUT_TSV
  */
object Record {
  def main(args: Array[String]): Unit = {
    val (dataDir, out) = (args(0), new File(args(1)))
    val spark = graft.Sessions.build(Runtime.getRuntime.availableProcessors.toString)
    spark.sparkContext.setLogLevel("WARN")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val runs = (1 to 3).map { _ =>
      names.map { name =>
        spark.catalog.clearCache()
        graft.Caches.release()
        val t0 = System.nanoTime()
        val fp = try Registry.fingerprint(graft.SparkEntry.queries(name)(spark, dataDir))
        catch { case e: Exception => s"failed: $e" }
        name -> (fp, (System.nanoTime() - t0) / 1e9)
      }.toMap
    }
    names.foreach(n => println(n + "\t" + runs.map(r => f"${r(n)._2}%.3f").mkString("\t")))
    val bad = names.filter(n => runs.map(_(n)._1).distinct.size != 1 ||
      runs.head(n)._1.startsWith("failed"))
    bad.foreach(n => System.err.println(s"[record] $n: ${runs.map(_(n)._1).mkString(" | ")}"))
    spark.stop()
    require(bad.isEmpty, s"${bad.size} rows failed or were unstable")
    Files.writeString(out.toPath,
      names.map(n => n + "\t" + runs.head(n)._1).mkString("", "\n", "\n"), StandardCharsets.UTF_8)
  }
}
