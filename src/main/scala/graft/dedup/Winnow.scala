package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
  * algorithm): slide a window of `w` consecutive shingle hashes over each
  * document and keep the minimum hash per window (ties to the LEFTMOST
  * position), de-duplicated by (position, hash). The selected set is a
  * position-robust document sketch with a hard guarantee minhash lacks:
  * any run of at least w+2 shared tokens (w shingle windows at shingle
  * width 3) contributes at least one IDENTICAL fingerprint to both docs —
  * so local plagiarism/quotation is caught even when global Jaccard is
  * far below any LSH threshold.
  *
  * Scale: fingerprint density is ~2/(w+1) of the shingle count (the
  * winnowing paper's expected rate), so the pair join runs on a sketch
  * linear in corpus size but a constant factor smaller than the shingle
  * join. The join key is the fingerprint hash — window minima skew toward
  * globally small hash values, so a document-frequency cap on the
  * fingerprint (same guard as the shingle joins' stop-shingle cap) keeps
  * any one key from concentrating the shuffle.
  *
  * Fingerprints and shingles come from the graft_winnow/graft_shingles
  * kernels, so every entry point needs a session with
  * [[graft.catalyst.GraftExtensions]] (`graft.Sessions.build`).
  */
object Winnow {

  /** Per-document winnowing fingerprints: (idCol, pos, fp) with `pos` the
    * 1-based shingle position of the selected minimum. Documents under 3
    * tokens have no shingles and are excluded (the minhash sentinel rule).
    * Short docs (fewer than `w` shingles) contribute their global minimum
    * as the single fingerprint — `slice` clamps at the array end. */
  def fingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 4): DataFrame = {
    require(w > 0, s"window must be positive, got $w")
    // r19: one codegen'd O(n) kernel call (graft_winnow — monotonic-deque
    // window minima) in place of the interpreted HOF window pipeline
    // (transform/slice/array_min per window, measured 0.65 s single-task
    // at sf0.1 vs ~0.1 s for the kernel). WinnowKernelPropertySpec pins
    // the kernel against a test-scope HOF reference.
    docs
      .select(col(idCol).as("__id"),
        call_function("graft_winnow", col(textCol), lit(w)).as("__z"))
      .select(col("__id"), explode(col("__z")).as("__f"))
      .select(col("__id").as(idCol),
        col("__f.pos").as("pos"), col("__f.fp").as("fp"))
  }

  /** ROBUST winnowing fingerprints (the paper's stateful variant): in each
    * window select the RIGHTMOST minimal hash, UNLESS the previous
    * window's selection is still inside this window and still minimal —
    * then keep it and chart nothing. Plain winnowing's per-window
    * independent tie-break degenerates on low-entropy content: a constant
    * token run makes every window chart a fresh position (density -> 1,
    * measured in WinnowSpec), while the robust rule re-charts only every
    * w positions (density -> 1/w) — and low-entropy boilerplate is
    * exactly where span dedup matters. On tie-free hash runs both
    * variants select the identical (pos, fp) set.
    *
    * The per-doc fold is a single `aggregate` over the window starts
    * (row-local, no extra exchange); only documents with at least `w`
    * shingles participate (the stateful rule needs full windows — shorter
    * docs fall back to [[fingerprints]]' clamped single window semantics
    * and are excluded here). */
  def robustFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 4): DataFrame = {
    require(w > 0, s"window must be positive, got $w")
    MinHash.withShingles(docs.select(col(idCol).as("__id"), col(textCol)),
        "__id", textCol)
      .filter(size(col("__sh")) >= w)
      // per-window (start, min, rightmost-min-pos) computed ONCE, then a
      // single stateful fold over those structs — the naive form re-slices
      // and re-mins the window up to 5x per step inside the aggregate
      .select(col("__id"), col("__sh"), expr(
        s"""transform(
           |  transform(sequence(0, size(__sh) - $w),
           |    j -> slice(__sh, cast(j as int) + 1, $w)),
           |  (wd, j) -> named_struct(
           |    'j', cast(j as bigint),
           |    'm', array_min(wd),
           |    'rpos', j + $w + 1 - array_position(reverse(wd), array_min(wd))))"""
          .stripMargin).as("__wn"))
      .select(col("__id"), expr(
        s"""aggregate(
           |  __wn,
           |  struct(cast(-1 as bigint) as last,
           |         cast(array() as array<bigint>) as poss,
           |         cast(array() as array<bigint>) as fps),
           |  (acc, wn) -> if(
           |    acc.last >= wn.j + 1
           |      and element_at(__sh, cast(acc.last as int)) = wn.m,
           |    acc,
           |    named_struct(
           |      'last', wn.rpos,
           |      'poss', concat(acc.poss, array(wn.rpos)),
           |      'fps', concat(acc.fps, array(wn.m)))),
           |  acc -> arrays_zip(acc.poss, acc.fps))""".stripMargin).as("__z"))
      .select(col("__id"), explode(col("__z")).as("__f"))
      .select(col("__id").as(idCol),
        col("__f.poss").as("pos"), col("__f.fps").as("fp"))
  }

  /** Document pairs sharing at least `minShared` distinct fingerprint
    * hashes, with the shared count — the plagiarism-detector output.
    * Fingerprints in more than `maxDf` documents are dropped before the
    * self-join (hot-key guard; raise it past the corpus max df to make
    * the gate a no-op, as the catalog query does). */
  def pairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 4,
      minShared: Long = 2L,
      maxDf: Long = 2000L): DataFrame = {
    val fp = fingerprints(docs, idCol, textCol, w)
      .select(col(idCol).as("__id"), col("fp")).distinct()
    val capped = fp.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("fp"))
    val kept = fp.join(capped, "fp")
    val a = kept.select(col("__id").as("id_1"), col("fp"))
    val b = kept.select(col("__id").as("id_2"), col("fp"))
    a.join(b, "fp")
      .filter(col("id_1") < col("id_2"))
      .groupBy(col("id_1"), col("id_2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus-size threshold above which [[pairsAuto]] stops honoring an
    * uncapped/inert df gate — same crossover scale as
    * [[Jaccard.DirectMaxDocs]] (where quadratic formulations stop being
    * affordable on this workload's document sizes). */
  val UncappedMaxDocs = 20000L

  /** [[pairs]] with the df cap made scale-safe by measurement: up to
    * `uncappedMaxDocs` input documents the caller's `maxDf` runs
    * verbatim (including an inert cap — exact full output); above it the
    * cap is CLAMPED to min(maxDf, max(64, ceil(sqrt(n)))), bounding any
    * one fingerprint's pair fanout at ~n and the total hot-key join mass
    * at corpus-linear. Winnowing minima skew toward globally small hash
    * values, so on sibling-heavy corpora an inert gate's quadratic pair
    * mass IS the output (measured 269 GiB of graceful-but-pointless
    * spill at the 100x rehearsal) — a pipeline that genuinely wants
    * every uncapped pair at scale opts in by calling [[pairs]] directly.
    * Runs one `count()` on the input to decide — cache `docs` upstream
    * when its lineage is expensive. */
  def pairsAuto(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 4,
      minShared: Long = 2L,
      maxDf: Long = 2000L,
      uncappedMaxDocs: Long = UncappedMaxDocs): DataFrame = {
    val n = docs.count()
    val eff =
      if (n <= uncappedMaxDocs) maxDf
      else math.min(maxDf, math.max(64L, math.ceil(math.sqrt(n.toDouble)).toLong))
    // unlike the prefix joins' plan-only auto dispatches, a biting clamp
    // CHANGES the result set (over-df fingerprints' pairs are dropped) —
    // say so where an operator will see it
    if (eff < maxDf)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"winnow pairsAuto clamped maxDf $maxDf -> $eff at $n docs: " +
          "pairs supported only by fingerprints above the clamp are dropped; " +
          "call pairs() directly for the uncapped result")
    pairs(docs, idCol, textCol, w, minShared, eff)
  }
}
