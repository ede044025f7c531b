package perfbench

import java.lang.management.ManagementFactory

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Facts recorded with every run: the host it ran on and the shape of its
  * inputs. */
object Inputs {

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def host(a: Args): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map(
      "nproc" -> a.cores,
      "ram_mb" -> os.getTotalMemorySize / Run.MiB,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / Run.MiB,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
      "source_digest" -> a.sourceDigest)
  }

  /** Parquet files and row groups of every table under `dir`. */
  def facts(spark: SparkSession, dir: String): Map[String, Any] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tables = Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    tables.map { t =>
      val files =
        if (t.isDirectory) t.listFiles.filter(f => f.getName.endsWith(".parquet")).toSeq
        else Seq(t)
      val rowGroups = files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
        try r.getRowGroups.size finally r.close()
      }.sum
      t.getName.stripSuffix(".parquet") -> Map(
        "files" -> files.size, "row_groups" -> rowGroups,
        "bytes" -> files.map(_.length).sum)
    }.toMap
  }
}
