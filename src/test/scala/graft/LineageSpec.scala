package graft

import org.apache.spark.CheckpointDirs
import org.apache.spark.sql.functions.{col, udf}

class LineageSpec extends SparkSpec {

  test("reliable truncate executes the upstream once") {
    CheckpointDirs.withTempDir(spark.sparkContext) {
      val evals = spark.sparkContext.longAccumulator("upstream-evals")
      val tick = udf { (x: Long) => evals.add(1L); x }
      val df = spark.range(0, 200, 1, 4).select(tick(col("id")).as("id"))
      val t = Lineage.truncate(df)
      assert(CheckpointDirs.checkpointFile(t).isDefined, "truncate must checkpoint reliably")
      assert(evals.value == 200L, "the eager job and the checkpoint write must share one upstream pass")
      assert(t.count() == 200L && evals.value == 200L)
    }
  }
}
