package graft.compression

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory

import java.io.File
import java.nio.file.Files
import java.util.zip.ZipInputStream
import scala.io.Source

/** Zip output support (reference compression/ZipCompression.kt): Spark CSV
  * written through the codec is a valid single-entry zip archive, readable
  * back by Spark once the codec is registered for the extension.
  */
class ZipCodecSpec extends SparkSpec {
  import spark.implicits._

  test("csv write through ZipCodec produces readable single-entry archives") {
    val dir = Files.createTempDirectory("graft-zip").toFile
    val out = new File(dir, "out").toString
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .coalesce(1)
      .write
      .option("header", "true")
      .option("compression", classOf[ZipCodec].getName)
      .csv(out)

    val part = new File(out).listFiles().filter(_.getName.endsWith(".zip")).head
    // plain JDK read: one entry, CSV content intact
    val zin = new ZipInputStream(new java.io.FileInputStream(part))
    val entry = zin.getNextEntry
    assert(entry != null)
    val lines = Source.fromInputStream(zin, "UTF-8").getLines().toList
    zin.close()
    assert(lines.head == "id,v")
    assert(lines.tail.toSet == Set("1,a", "2,b", "3,c"))

    // spark read-back via extension registration
    spark.sparkContext.hadoopConfiguration.set(
      "io.compression.codecs", classOf[ZipCodec].getName)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 3)
    assert(back.columns.toSeq == Seq("id", "v"))
  }

  test("Hadoop's codec factory finds ZipCodec by extension with no io.compression.codecs entry") {
    val factory = new CompressionCodecFactory(new Configuration(false))
    assert(factory.getCodec(new Path("part-00000.csv.zip")).isInstanceOf[ZipCodec])
    assert(factory.getCodec(new Path("part-00000.csv.gz")) != null)
  }
}
