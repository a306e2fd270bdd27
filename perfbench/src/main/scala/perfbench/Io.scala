package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

object Io {
  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: String): Double = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0.0
    else {
      val s = Files.walk(root)
      try s.filter((p: Path) => Files.isRegularFile(p)).mapToLong((p: Path) => Files.size(p))
        .sum().toDouble
      finally s.close()
    }
  }

  /** Seconds to evaluate `df` into the noop sink (every output column is
    * computed, nothing is stored). */
  def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }
}
