package graft.avro

import graft.SparkSpec
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import java.nio.file.Files

/** DSv2 micro-batch streaming over the Avro topic layout: checkpointed
  * per-partition start-offset tracking, one file per input partition,
  * incremental AvailableNow passes. */
class AvroStreamSourceSpec extends SparkSpec {

  private val schemaJson =
    """{"type":"record","name":"Envelope","fields":[
      | {"name":"key","type":{"type":"record","name":"K","fields":[
      |   {"name":"userId","type":"string"}]}},
      | {"name":"value","type":{"type":"record","name":"V","fields":[
      |   {"name":"time","type":"double"},
      |   {"name":"status","type":"string"}]}}
      |]}""".stripMargin
  private val schema = new Schema.Parser().parse(schemaJson)

  private def record(user: String, time: Double, status: String): GenericRecord = {
    val k = new GenericData.Record(schema.getField("key").schema())
    k.put("userId", user)
    val v = new GenericData.Record(schema.getField("value").schema())
    v.put("time", time); v.put("status", status)
    val r = new GenericData.Record(schema)
    r.put("key", k); r.put("value", v)
    r
  }

  private def writeAvro(file: File, records: Seq[GenericRecord]): Unit = {
    file.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file)
    records.foreach(w.append)
    w.close()
  }

  test("streams new sink files exactly once across AvailableNow passes") {
    val dir = Files.createTempDirectory("graft-avro-stream").toFile
    val topic = new File(dir, "t/partition=0")
    val out = s"$dir/out"; val cp = s"$dir/cp"
    writeAvro(new File(topic, "t+0+0000000000+0000000001.avro"),
      Seq(record("u1", 1.0, "A"), record("u1", 2.0, "B")))
    writeAvro(new File(dir, "t/partition=1/t+1+0000000005.avro"),
      Seq(record("u2", 3.0, "C")))

    def pass(): Unit = {
      val q = spark.readStream
        .format("graft.avro.AvroStreamSource")
        .load(s"$dir/t")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .format("parquet")
        .option("path", out)
        .start()
      q.awaitTermination()
    }
    pass()
    val r1 = spark.read.parquet(out)
    assert(r1.count() == 3)
    assert(r1.columns.take(2).toSeq == Seq("_file", "_row_index"))
    // offset F7 metadata: row indexes are per-file, 0-based
    assert(r1.select("_row_index").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 0L, 1L))

    // a new file on partition 0: only its records stream in pass 2
    writeAvro(new File(topic, "t+0+0000000002.avro"), Seq(record("u1", 4.0, "D")))
    pass()
    val r2 = spark.read.parquet(out)
    assert(r2.count() == 4)
    import spark.implicits._
    assert(r2.select("value.status").as[String].collect().sorted.toSeq ==
      Seq("A", "B", "C", "D"))

    // no new files -> an empty pass, nothing duplicated
    pass()
    assert(spark.read.parquet(out).count() == 4)
  }

  test("maxFilesPerTrigger bounds each micro-batch; AvailableNow still drains everything") {
    val dir = Files.createTempDirectory("graft-avro-admission").toFile
    val out = s"$dir/out"; val cp = s"$dir/cp"
    (0 until 3).foreach { i =>
      writeAvro(new File(dir, f"t/partition=0/t+0+${i}%010d.avro"),
        Seq(record(s"u$i", i.toDouble, s"S$i")))
    }
    val q = spark.readStream
      .format("graft.avro.AvroStreamSource")
      .option("maxFilesPerTrigger", "1")
      .load(s"$dir/t")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .format("parquet")
      .option("path", out)
      .start()
    q.awaitTermination()
    // all three files processed (as a sequence of 1-file micro-batches,
    // visible as >= 3 committed batches in the checkpoint)
    assert(spark.read.parquet(out).count() == 3)
    val commits = new File(s"$cp/commits").listFiles().count(_.getName.forall(_.isDigit))
    assert(commits >= 3)
  }

  test("writer-schema drift resolves by name: new fields dropped, missing fields null") {
    val dir = Files.createTempDirectory("graft-avro-drift").toFile
    val out = s"$dir/out"; val cp = s"$dir/cp"
    writeAvro(new File(dir, "t/partition=0/t+0+0000000000.avro"),
      Seq(record("u1", 1.0, "A")))

    // drifted writer: value gains a leading `extra` field, shifting the
    // positions of time/status — a positional reader would misalign
    val driftedJson =
      """{"type":"record","name":"Envelope","fields":[
        | {"name":"key","type":{"type":"record","name":"K","fields":[
        |   {"name":"userId","type":"string"}]}},
        | {"name":"value","type":{"type":"record","name":"V","fields":[
        |   {"name":"extra","type":"long"},
        |   {"name":"time","type":"double"},
        |   {"name":"status","type":"string"}]}}
        |]}""".stripMargin
    val drifted = new Schema.Parser().parse(driftedJson)
    val k = new GenericData.Record(drifted.getField("key").schema())
    k.put("userId", "u2")
    val v = new GenericData.Record(drifted.getField("value").schema())
    v.put("extra", 99L); v.put("time", 2.0); v.put("status", "B")
    val r = new GenericData.Record(drifted)
    r.put("key", k); r.put("value", v)
    val f = new File(dir, "t/partition=0/t+0+0000000001.avro")
    f.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](drifted))
    w.create(drifted, f)
    w.append(r)
    w.close()

    val q = spark.readStream
      .format("graft.avro.AvroStreamSource")
      .load(s"$dir/t")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .format("parquet")
      .option("path", out)
      .start()
    q.awaitTermination()
    import spark.implicits._
    val rows = spark.read.parquet(out)
      .select($"key.userId", $"value.time", $"value.status")
      .as[(String, Double, String)].collect().sortBy(_._1).toSeq
    // the drifted record's fields landed under their NAMES, not positions
    assert(rows == Seq(("u1", 1.0, "A"), ("u2", 2.0, "B")))

    // the inferred schema must declare every payload field NULLABLE: it
    // comes from ONE file's writer schema, but drifted files lacking a
    // field emit null for it — a non-nullable field Catalyst trusts would
    // carry injected nulls into codegen that skips the null checks
    val inferred = graft.avro.AvroStreamSource.schemaFor(s"$dir/t")
    assert(inferred.fields.drop(2).dropRight(3).forall(_.nullable),
      s"payload fields must be nullable: ${inferred.treeString}")
    // the file constants the scan appends are never null
    assert(inferred.fieldNames.takeRight(3).toSeq == Seq("_partition", "_start_offset", "_mtime"))
    assert(spark.read.parquet(out).select("_partition", "_start_offset", "_mtime")
      .collect().forall(r => !r.anyNull))
  }
}
