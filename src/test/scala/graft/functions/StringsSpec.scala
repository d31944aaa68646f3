package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Scalar surface goldens: sanitize (path/RecordPathFactory.kt:120,126-129),
  * filename parse (accounting/TopicPartitionOffsetRange.kt:50-61), path
  * templating (path/FormattedPathFactoryTest.kt:12-62).
  */
class StringsSpec extends SparkSpec {
  import spark.implicits._

  test("sanitizeId strips non [a-zA-Z0-9_-] and substitutes defaults") {
    val d = Seq(Tuple1("user@radar!"), Tuple1("!!!"), Tuple1(null: String)).toDF("id")
    val out = d.select(Strings.sanitizeId(col("id"), "unknown")).as[String].collect().toSeq
    assert(out == Seq("userradar", "unknown", "unknown"))
  }

  /** The `regexp_replace` form the kernel replaced, kept as its parity
    * reference. */
  private def sanitizeIdRegex(c: org.apache.spark.sql.Column, default: String) = {
    val cleaned = regexp_replace(coalesce(c, lit("")), "[^a-zA-Z0-9_-]+", "")
    when(cleaned === "", lit(default)).otherwise(cleaned)
  }

  /** Runs `body` with the given SQL confs set, then restores them. */
  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  for ((mode, confs) <- Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "NO_CODEGEN" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")))
    test(s"sanitizeId equals the regexp_replace form on every input ($mode)") {
      val rnd = new scala.util.Random(42)
      val alphabet = "aZ09_-@!. /é€中😀\t\u0000\u007f"
      val texts = Seq(null, "", "!!!", "@@ !!", "clean-ID_09", "user@radar!", "é€😀") ++
        Seq.fill(400)(Iterator.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString)
      // malformed UTF-8: raw bytes cast to string, allowed ASCII mixed in
      val bytes = Seq(Array[Byte](0xC3.toByte, 'A'), Array[Byte](0xE0.toByte, 0x80.toByte, '-'),
        Array[Byte](0xFF.toByte), Array[Byte]('x', 0xF0.toByte, 0x9F.toByte, '_')) ++
        Seq.fill(400)(Array.fill(rnd.nextInt(10)) {
          if (rnd.nextInt(3) == 0) "aZ9_-".charAt(rnd.nextInt(5)).toByte else rnd.nextInt(256).toByte
        })
      // an RDD, not a local relation, so the projection runs in the mode
      // under test instead of being folded by the optimizer
      val df = spark.sparkContext
        .parallelize(texts.map(t => (t, null: Array[Byte])) ++ bytes.map(b => (null: String, b)), 4)
        .toDF("t", "b")
        .select(coalesce(col("t"), col("b").cast("string")).as("id"))
      withConf(confs: _*) {
        val out = df.select(col("id"),
          Strings.sanitizeId(col("id"), "unknown").as("kernel"),
          sanitizeIdRegex(col("id"), "unknown").as("regex"))
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan
        assert(plan.toString.contains("graft_sanitize_id"))
        assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == (mode == "codegen"), plan)
        assert(rows.length == texts.size + bytes.size)
        rows.foreach(r => assert(r.get(1) == r.get(2), s"input ${r.get(0)}"))
        // the default substitutes for null, empty and all-disallowed input
        assert(rows.count(_.getString(1) == "unknown") >= 4)
      }
    }

  test("filename metadata extraction with and without end offset") {
    val d = Seq(
      "android_phone_light+1+0000000018+0000000020.avro",
      "application_server_status+0+0003018784.avro").toDF("f")
    val out = d.select(
      Strings.filenameTopic(col("f")),
      Strings.filenamePartition(col("f")),
      Strings.filenameStartOffset(col("f")),
      Strings.filenameEndOffset(col("f"))).collect()
    assert(out(0).getString(0) == "android_phone_light")
    assert(out(0).getInt(1) == 1)
    assert(out(0).getLong(2) == 18L)
    assert(out(0).getLong(3) == 20L)
    assert(out(1).getString(0) == "application_server_status")
    assert(out(1).getInt(1) == 0)
    assert(out(1).getLong(2) == 3018784L)
    assert(out(1).isNullAt(3))
  }

  test("templatePath golden: full template") {
    val d = Seq(1609581900.0).toDF("t") // 2021-01-02T10:05:00Z
    val ts = Times.doubleToTimestamp(col("t"))
    val path = Strings.templatePath(
      "${topic}/${projectId}/${userId}/${sourceId}/${time:yyyyMM}/${time:dd}/${filename}",
      Map(
        "topic" -> lit("t"), "projectId" -> lit("p"), "userId" -> lit("u"),
        "sourceId" -> lit("s"),
        "filename" -> concat(Times.timeBin(ts), lit(".csv.gz"))),
      ts)
    val out = d.select(path).as[String].head
    assert(out == "t/p/u/s/202101/02/20210102_1000.csv.gz")
  }

  test("templatePath default layout") {
    val d = Seq(1609581900.0).toDF("t")
    val ts = Times.doubleToTimestamp(col("t"))
    val path = Strings.templatePath(
      "${projectId}/${userId}/${topic}/${filename}",
      Map(
        "topic" -> lit("t"), "projectId" -> lit("p"), "userId" -> lit("u"),
        "filename" -> concat(Times.timeBin(ts), lit(".csv.gz"))),
      ts)
    assert(d.select(path).as[String].head == "p/u/t/20210102_1000.csv.gz")
  }

  test("unknown template parameter fails fast at plan time") {
    intercept[IllegalArgumentException] {
      Strings.templatePath("${nope}", Map.empty, lit(null))
    }
  }

  test("base64Unpadded matches unpadded golden") {
    val d = Seq("hello").toDF("s")
    val out = d.select(Strings.base64Unpadded(col("s").cast("binary"))).as[String].head
    assert(out == "aGVsbG8") // padded form would be aGVsbG8=
  }
}
