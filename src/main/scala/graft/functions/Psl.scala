package graft.functions

import scala.io.Source

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Public Suffix List lookup as pure column expressions — the real PSL
  * algorithm (publicsuffix.org/list: longest matching rule wins, `*.`
  * wildcard rules match exactly one extra label, `!` exception rules
  * prevail over everything, the default rule is `*`), backed by the
  * committed `graft/public_suffix_list.dat` resource (an offline subset
  * of the Mozilla PSL in the upstream format — swap in the full file and
  * nothing here changes).
  *
  * Scale shape: the lookup is the graft_psl_labels kernel
  * ([[graft.catalyst.PslKernels]]) over process-static rule sets, inside a
  * narrow codegen'd projection — no broadcast variable, no UDF, no
  * shuffle, no driver round-trip. The candidate suffixes come from
  * `substring_index(host, ".", -k)`, which never throws — no ANSI
  * out-of-bounds hazard.
  */
object Psl {

  /** Parsed rule sets. `wildcards` holds the PARENT of each `*.` rule
    * (`"ck"` for `*.ck`); `exceptions` holds the rule minus its leading
    * `!`. All entries are lowercase, dot-separated label strings. */
  final case class Rules(
      normal: Set[String],
      wildcards: Set[String],
      exceptions: Set[String])

  /** Parses PSL-format lines: one rule per line, `//` comments and blank
    * lines ignored, anything after the first whitespace ignored (the
    * upstream file has none, but the spec allows it). Handles the
    * complete publicsuffix.org file verbatim. */
  def parse(lines: Iterator[String]): Rules = {
    val normal = Set.newBuilder[String]
    val wild = Set.newBuilder[String]
    val exc = Set.newBuilder[String]
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).foreach { l =>
      val rule = l.takeWhile(!_.isWhitespace).toLowerCase
      if (rule.startsWith("!")) exc += rule.drop(1)
      else if (rule.startsWith("*.")) wild += rule.drop(2)
      else if (rule != "*") normal += rule // the bare default rule is built in
    }
    Rules(normal.result(), wild.result(), exc.result())
  }

  /** Rules from the committed resource. The resource travels in the
    * library jar, so every JVM — driver or executor — builds the same
    * sets; a missing resource FAILS (classloading error at first use)
    * rather than silently degrading every lookup on that host to the
    * default 1-label rule, which would make registeredDomain and the
    * URL dedup keys differ per executor with no error anywhere. (The
    * InSet plan-literal predecessor was immune because the rules rode
    * the serialized plan; this is the kernel's equivalent guarantee.) */
  val rules: Rules = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null,
      "graft: /graft/public_suffix_list.dat missing from the classpath — " +
        "PSL-backed functions would silently return wrong labels")
    try parse(Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** Last `k` labels of `host` ("a.b.c", k=2 -> "b.c") for a per-row
    * count — `substring_index` via `call_function`, whose count operand
    * may be any expression. Fewer than `k` labels returns the whole host,
    * so every use is guarded by a label-count predicate. */
  private def lastLabels(host: Column, k: Column): Column =
    call_function("substring_index", host, lit("."), -k)

  private def nLabels(host: Column): Column = size(split(host, "\\."))

  /** Number of labels in `host`'s public suffix (>= 1; null for a null
    * host). Evaluates as the native `graft_psl_labels` kernel
    * ([[graft.catalyst.PslKernels]]): the rule sets live as
    * process-static hash sets instead of plan literals, so the generated
    * projection is one static call — eliminating the ~4-5 s first-use
    * janino compile the former InSet chain cost on every fresh JVM,
    * with identical results (PslPropertySpec pins it against a
    * test-scope InSet-chain reference). Needs a session with
    * [[graft.catalyst.GraftExtensions]] (`graft.Sessions.build`), as do
    * the functions below that build on it. */
  def publicSuffixLabels(host: Column): Column =
    call_function("graft_psl_labels", host)

  /** The public suffix itself (e.g. "co.uk", "web.ck" under `*.ck`);
    * null for a null host. */
  def publicSuffix(host: Column): Column =
    lastLabels(host, publicSuffixLabels(host))

  /** True when `host` IS a public suffix (no registrable part) — the
    * guard [[Urls.dedupKey]] uses before stripping a leading `www.`. */
  def isPublicSuffix(host: Column): Column =
    publicSuffixLabels(host) >= nLabels(host)

  /** Registered domain (eTLD+1): public suffix plus one label. Null when
    * the host is itself a public suffix (including single-label hosts
    * under the default rule — "localhost" has no registrable part) or
    * null. This is the unit crawl pipelines budget, rate-limit, and
    * report by. */
  def registeredDomain(host: Column): Column = {
    val psn = publicSuffixLabels(host)
    when(nLabels(host) > psn, lastLabels(host, psn + lit(1)))
  }
}
