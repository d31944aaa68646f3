package graft.restructure

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import java.io.{BufferedReader, InputStreamReader, OutputStream, OutputStreamWriter}
import java.util.zip.{GZIPInputStream, GZIPOutputStream, ZipEntry, ZipOutputStream}

/** Export the Spark partition-dir output into the reference's EXACT analyst
  * layout: one file per bin at `<project>/<user>/<topic>/<bin>.csv[.gz]`
  * (path/FormattedPathFactory.kt default template), merging the bin's part
  * files with a single header.
  *
  * Part files whose header differs (schema drift across runs — the
  * reference's write-retry attempt suffix, worker/RestructureWorker.kt:
  * 148-163) land in `<bin>_1.csv[.gz]`, `_2`, ... per distinct header, in
  * first-seen order.
  *
  * Scale design: the merge work is a Spark job with ONE TASK PER BIN — the
  * driver only lists partition directories (O(bins) metadata); each task
  * streams its own part files through executor-local IO. Concatenation cost
  * is IO-bound and embarrassingly parallel, the standard "small files
  * export" pass of a 100 TB pipeline.
  */
object LayoutExport {

  /** Local-target POSIX ownership/permissions, the reference's
    * LocalConfig(userId, groupId) (target/LocalTargetStorage.kt:30-86):
    * exported files get mode rw-r--r--, their created directory chain
    * rwxr-xr-x, and both get uid/gid when configured (>= 0 — requires a
    * privileged process, exactly as the reference). Applied only to
    * local-filesystem targets; object-store URIs have no POSIX surface. */
  final case class PosixSettings(userId: Int = -1, groupId: Int = -1)

  private val FileMode = java.nio.file.attribute.PosixFilePermissions.fromString("rw-r--r--")
  private val DirMode = java.nio.file.attribute.PosixFilePermissions.fromString("rwxr-xr-x")

  /** Resolve a Hadoop path to a local java.nio path when (and only when)
    * it lives on the local filesystem. */
  private def localPath(p: Path): Option[java.nio.file.Path] = {
    val uri = p.toUri
    Option(uri.getScheme) match {
      case None | Some("file") => Some(java.nio.file.Paths.get(uri.getPath))
      case _                   => None
    }
  }

  private def applyPosix(nio: java.nio.file.Path, perms: java.util.Set[java.nio.file.attribute.PosixFilePermission], posix: PosixSettings): Unit = {
    java.nio.file.Files.setPosixFilePermissions(nio, perms)
    if (posix.userId >= 0)
      java.nio.file.Files.setAttribute(nio, "unix:uid", Int.box(posix.userId))
    if (posix.groupId >= 0)
      java.nio.file.Files.setAttribute(nio, "unix:gid", Int.box(posix.groupId))
  }

  /** chmod/chown the exported file and its directory chain up to (not
    * including) `exportRoot` — the reference's store() + createDirectories()
    * post-pass, run executor-side right after the merge task closes the
    * file. */
  private def posixPostPass(target: Path, exportRoot: String, posix: PosixSettings): Unit =
    localPath(target).foreach { nio =>
      applyPosix(nio, FileMode, posix)
      val root = java.nio.file.Paths.get(new Path(exportRoot).toUri.getPath).toAbsolutePath.normalize
      var dir = nio.toAbsolutePath.normalize.getParent
      while (dir != null && dir.startsWith(root) && dir != root) {
        applyPosix(dir, DirMode, posix)
        dir = dir.getParent
      }
    }

  /** Merge `outputDir/<topic>` into `exportDir`. Returns written paths.
    * `exportCompression` (default: the config's) may differ from how the
    * part files were written — e.g. gzip parts exported as single-entry
    * zip archives (`<bin>.csv.zip`, level 7, entry named after the csv),
    * the reference's zip output mode. `posix` enables the reference's
    * local-target ownership/permission post-pass. */
  def export(spark: SparkSession, config: RestructureConfig, topic: String,
             exportDir: String,
             exportCompression: Option[Option[String]] = None,
             posix: Option[PosixSettings] = None): Seq[String] = {
    require(config.format == "csv", "layout export currently supports csv")
    // the merge below decompresses .gz parts and reads everything else as
    // plain text — a passthrough codec the csv sink accepts (bzip2, zstd)
    // would merge raw compressed bytes line-wise with no error
    require(config.compression.forall(Set("gzip", "none").contains),
      s"layout export reads gzip or plain csv parts, not ${config.compression.getOrElse("")}")
    val outComp = exportCompression.getOrElse(config.compression).getOrElse("none")
    require(Seq("none", "gzip", "zip").contains(outComp), s"unknown compression: $outComp")
    // driver: list (project, user, bin, partFiles) — metadata only
    def value(dir: Path) = dir.getName.substring(dir.getName.indexOf('=') + 1)
    val bins = new Restructure(spark, config).partFiles(topic).groupBy(_.getParent).toSeq.map {
      case (bin, parts) =>
        (value(bin.getParent.getParent), value(bin.getParent), value(bin), parts.map(_.toString))
    }
    if (bins.isEmpty) return Seq.empty

    // one task per bin: broadcast, so each executor deserializes the conf once
    val serConf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val ext = outComp match {
      case "gzip" => ".csv.gz"
      case "zip"  => ".csv.zip"
      case _      => ".csv"
    }
    spark.sparkContext
      .parallelize(bins, bins.size)
      .map { case (project, user, bin, parts) =>
        val conf = serConf.value.value
        def open(p: String): BufferedReader = {
          val f = new Path(p)
          val raw = f.getFileSystem(conf).open(f)
          val in = if (p.endsWith(".gz")) new GZIPInputStream(raw) else raw
          new BufferedReader(new InputStreamReader(in, "UTF-8"))
        }
        // group parts by header -> attempt suffix per distinct header
        val byHeader = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[String]]
        parts.foreach { p =>
          val r = open(p)
          val header = r.readLine()
          r.close()
          if (header != null)
            byHeader.getOrElseUpdate(header, scala.collection.mutable.ArrayBuffer.empty) += p
        }
        val written = scala.collection.mutable.ArrayBuffer.empty[String]
        byHeader.zipWithIndex.foreach { case ((header, ps), attempt) =>
          val suffix = if (attempt == 0) "" else s"_$attempt"
          val target = new Path(s"$exportDir/$project/$user/$topic/$bin$suffix$ext")
          val tfs = target.getFileSystem(conf)
          val rawOut = tfs.create(target, true)
          val stream: OutputStream = outComp match {
            case "gzip" => new GZIPOutputStream(rawOut)
            case "zip" =>
              val z = new ZipOutputStream(rawOut)
              z.setLevel(7) // reference's level (ZipCompression.kt:18)
              z.putNextEntry(new ZipEntry(s"$bin$suffix.csv"))
              z
            case _ => rawOut
          }
          val out = new OutputStreamWriter(stream, "UTF-8")
          out.write(header); out.write('\n')
          ps.foreach { p =>
            val r = open(p)
            r.readLine() // skip header
            var line = r.readLine()
            while (line != null) { out.write(line); out.write('\n'); line = r.readLine() }
            r.close()
          }
          out.close()
          posix.foreach(posixPostPass(target, exportDir, _))
          written += target.toString
        }
        written.toSeq
      }
      .collect()
      .flatten
      .toSeq
  }
}
