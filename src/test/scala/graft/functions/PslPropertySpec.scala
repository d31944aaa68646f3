package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{HofReference, SparkSpec}

/** Property pin for the PSL column expressions: a sequential Scala
  * reference implementation of the publicsuffix.org algorithm (written
  * directly from the spec's prose, no Spark) must agree with the
  * codegen'd expressions on hosts GENERATED from the loaded rule set —
  * random rules with random label decorations, so wildcard, exception,
  * longest-match, and default-rule paths are all exercised, not just the
  * handful of hand-picked hosts in PslSpec. */
class PslPropertySpec extends SparkSpec {
  import spark.implicits._

  /** The PSL algorithm, sequentially: returns the public-suffix label
    * count of `host` (>= 1). */
  private def refPsn(host: String): Int = {
    val labels = host.split('.')
    val n = labels.length
    def suffix(k: Int): String = labels.takeRight(k).mkString(".")
    val r = Psl.rules
    // exceptions prevail; longest exception first (mirrors the expression)
    val exc = (n to 1 by -1).collectFirst {
      case k if r.exceptions.contains(suffix(k)) => k - 1
    }
    exc.getOrElse {
      val normal = (1 to n).filter(k => r.normal.contains(suffix(k)))
      // a wildcard *.P matches when the host has at least one label before P
      val wild = (1 until n).filter(k => r.wildcards.contains(suffix(k))).map(_ + 1)
      ((normal ++ wild) :+ 1).max
    }
  }

  private def refRegDomain(host: String): Option[String] = {
    val labels = host.split('.')
    val psn = refPsn(host)
    if (labels.length > psn) Some(labels.takeRight(psn + 1).mkString(".")) else None
  }

  // host generator: seed with a real rule (normal, wildcard parent, or
  // exception) or a junk suffix, then stack 0-3 extra labels on top
  private val hostGen: Gen[String] = {
    val r = Psl.rules
    val seed = Gen.oneOf(
      Gen.oneOf(r.normal.toSeq),
      Gen.oneOf(r.wildcards.toSeq),
      Gen.oneOf(r.exceptions.toSeq),
      Gen.oneOf("unknowntld", "localhost", "internal"))
    val label = Gen.oneOf("a", "bb", "news", "www", "city", "shop", "x9")
    for {
      s <- seed
      k <- Gen.choose(0, 3)
      ls <- Gen.listOfN(k, label)
    } yield (ls :+ s).mkString(".")
  }

  test("expression output equals the sequential PSL reference on generated hosts") {
    val prop = Prop.forAll(Gen.listOfN(60, hostGen)) { hosts =>
      val got = hosts.toDF("h")
        .select(Psl.publicSuffixLabels(col("h")), Psl.registeredDomain(col("h")))
        .collect()
      hosts.zip(got).forall { case (h, row) =>
        val psnOk = row.getInt(0) == refPsn(h)
        val rdOk = (if (row.isNullAt(1)) None else Some(row.getString(1))) == refRegDomain(h)
        if (!psnOk || !rdOk)
          info(s"mismatch on $h: got (${row.get(0)}, ${row.get(1)}), " +
            s"want (${refPsn(h)}, ${refRegDomain(h)})")
        psnOk && rdOk
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("native graft_psl_labels kernel equals the columnar InSet chain") {
    // the kernel replaced the InSet literals on the hot path (first-use
    // janino cost); the columnar form is this spec's test-scope reference
    val prop = Prop.forAll(Gen.listOfN(80, hostGen)) { hosts =>
      val got = hosts.toDF("h")
        .select(Psl.publicSuffixLabels(col("h")).as("k"),
          HofReference.publicSuffixLabels(col("h")).as("c"))
        .collect()
      hosts.zip(got).forall { case (h, row) =>
        val ok = row.getInt(0) == row.getInt(1)
        if (!ok) info(s"mismatch on $h: kernel ${row.get(0)} vs columnar ${row.get(1)}")
        ok
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}
