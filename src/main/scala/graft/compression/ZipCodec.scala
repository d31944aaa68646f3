package graft.compression

import org.apache.hadoop.conf.{Configurable, Configuration}
import org.apache.hadoop.io.compress._

import java.io.{InputStream, OutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

/** Hadoop codec producing single-entry ZIP archives, matching the
  * reference's zip output support (compression/ZipCompression.kt:10-26,
  * level 7, entry named after the stream). Zip is an archive format, not a
  * split-friendly codec — same caveat as the reference: one file, one entry.
  *
  * Use as `option("compression", classOf[ZipCodec].getName)` on a writer
  * (the restructure job's `compression: zip`). Hadoop's codec factory
  * finds it through `META-INF/services`, so `.zip` files read back by
  * their extension.
  */
final class ZipCodec extends CompressionCodec with Configurable {
  private var conf: Configuration = new Configuration(false)
  override def setConf(c: Configuration): Unit = conf = c
  override def getConf: Configuration = conf

  override def getDefaultExtension: String = ".zip"

  override def createOutputStream(raw: OutputStream): CompressionOutputStream =
    new CompressionOutputStream(raw) {
      private val zip = new ZipOutputStream(raw)
      zip.setLevel(7) // reference's level (ZipCompression.kt:18)
      zip.putNextEntry(new ZipEntry("data"))
      private var finished = false
      override def write(b: Int): Unit = zip.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = zip.write(b, off, len)
      override def finish(): Unit = if (!finished) { finished = true; zip.closeEntry(); zip.finish() }
      override def resetState(): Unit = ()
      override def close(): Unit = { finish(); zip.close() }
    }

  override def createInputStream(raw: InputStream): CompressionInputStream =
    new CompressionInputStream(raw) {
      private val zip = new ZipInputStream(raw)
      zip.getNextEntry // position at the single entry
      override def read(): Int = zip.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int = zip.read(b, off, len)
      override def resetState(): Unit = ()
      override def close(): Unit = zip.close()
    }

  // stream-level compression only: the pooled Compressor/Decompressor API
  // cannot express zip entries. Writers/readers that honor the stream API
  // (Spark's text-based datasources do) work; raw-compressor callers don't.
  override def createOutputStream(out: OutputStream, c: Compressor): CompressionOutputStream =
    createOutputStream(out)
  override def createInputStream(in: InputStream, d: Decompressor): CompressionInputStream =
    createInputStream(in)
  override def getCompressorType: Class[_ <: Compressor] = null
  override def createCompressor(): Compressor = null
  override def getDecompressorType: Class[_ <: Decompressor] = null
  override def createDecompressor(): Decompressor = null
}
