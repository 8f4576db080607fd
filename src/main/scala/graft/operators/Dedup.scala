package graft.operators

import graft.core.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for a training-data pipeline: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. (Driver north star; the
  * reference's own dedup surface is exact `drop_duplicates` —
  * /root/reference/PharmacoDI/combine_pset_tables.py:233.)
  *
  * Scale design:
  *  - exact dedup groups by a hash of the payload, not the payload —
  *    the shuffle carries 16-byte keys, not documents;
  *  - n-gram Jaccard joins on shingles (inverted-index join), never
  *    a document cross join; at 100 TB add a band/bucket prefilter
  *    (that is exactly what [[minhashLsh]] is);
  *  - MinHash signatures are built in one pass with element-wise
  *    min aggregation over seed-indexed hashes; candidate generation
  *    is an equi-join on (band, band_hash) — shuffle keys are 16
  *    bytes/band regardless of document size.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** doc_id + distinct word-3-gram shingles.
    *
    * r21: distinctness is per-document by construction (one doc_id per
    * input row), so it is computed with a per-row `array_distinct`
    * BEFORE the explode instead of a corpus-wide `.distinct()` — that
    * removes a full shuffle+sort of the exploded (doc, shingle) stream
    * (guide §2.4 "remove shuffles outright"; the distinct's exchange
    * bought nothing but re-partitioning). The scan is fanned out
    * ([[graft.core.Fanout.bySize]]) so the tokenize+explode map work
    * no longer serializes in a single scan task on single-row-group
    * inputs — the parallelism the removed distinct used to provide by
    * accident, now without moving the exploded stream. */
  def shingles(docs: DataFrame): DataFrame =
    graft.core.Fanout.bySize(docs, col("doc_id"))
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(expr(
          "transform(sequence(0, size(w)-3), i -> concat_ws(' ', slice(w, i+1, 3)))")))
          .as("shingle"))

  /** `(doc_a, doc_b, common, n_a, n_b)` for every doc pair sharing at
    * least one shingle — the inverted-index overlap join that both
    * set-similarity scorers ([[jaccardPairs]], [[containmentPairs]])
    * reduce over.
    *
    * `maxDf`: the exact self-join's cost is sum over shingles of
    * posting-list² — ONE boilerplate shingle shared by f docs emits
    * f(f-1)/2 candidate pairs (a 4-word header common to 100k docs is
    * ~5e9 pairs from two shingles; soak-verified runaway). Capping
    * document frequency drops those stop-shingles from the index AND
    * from the per-doc sizes, i.e. similarity is computed exactly over
    * the FILTERED shingle universe — the standard stop-shingle /
    * prefix-filter remedy. Deterministic and engine-portable (the cap
    * is a plain df predicate), but a DIFFERENT measure than the
    * uncapped one: boilerplate no longer votes for similarity (usually
    * the point — shared headers are precisely what near-dup scoring
    * should ignore). None = exact over all shingles (the oracle
    * shape). */
  private def overlapPairs(sh0: DataFrame, maxDf: Option[Long]): DataFrame =
    maxDf match {
      case Some(cap) => overlapPairsPostings(sh0, cap)
      case None =>
        // uncapped EXACT form (the oracle shape): keep the self-join
        // formulation — a posting-list collect with no df cap has no
        // buffer bound (a runaway shingle is an 800 MB aggregation
        // buffer), while the join spills gracefully. Materialize the
        // shingle index once: it feeds the count aggregate plus BOTH
        // self-join sides, and Spark does not reuse the subtree across
        // them (no ReusedExchange in the plan — verified), so without
        // this the index is built three times.
        val sh = graft.core.Materialize.pin(sh0)
        val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
        val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
        val common = a.join(b, Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
        // `counts` is DOC-sized (one row per document) — never force-
        // broadcast it: at corpus scale that is a driver OOM. Un-hinted,
        // AQE promotes to BHJ while it fits and degrades to a shuffle join
        // past that (same eviction as the r9 kCorePeel fix).
        common
          .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_sh" -> "n_a")), Seq("doc_a"))
          .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_sh" -> "n_b")), Seq("doc_b"))
    }

  /** Capped overlap pairs via POSTING LISTS — r21 rewrite of the
    * count + semi-join + self-join formulation (guide §2.3/2.4: fewer
    * exchanges of the big stream, shuffle 16-byte rows). The exploded
    * (doc, shingle) stream is shuffled by shingle hash exactly ONCE
    * into a size-bounded posting list per shingle
    * ([[graft.functions.BoundedCollectLong]]: buffer saturates at
    * cap+1, so stop-shingles cost O(cap) memory and are dropped by the
    * size filter — the same rows the old df-count semi-join removed
    * with two extra full-stream exchanges). Pairs and per-doc sizes
    * both derive from the pinned posting table: pair generation
    * streams through two Generates (posexplode + tail-slice explode,
    * never materializing the pair array), identical (doc_a < doc_b)
    * pair multiset as the self-join by construction; sizes re-explode
    * the capped lists, identical to counting the semi-join survivors.
    * Shingles ride as xxhash64 longs, not ~25-byte strings — the same
    * accepted collision trade [[jaccardPairsPrefix]] documents (P[any
    * collision] ~ u²/2^65; the gate output is oracle-hash-checked).
    * Old plan: 4 exchanges of the full stream + 2 full-stream pins;
    * new plan: 1 full-stream exchange + 1 posting-sized pin. */
  /** The pre-pin posting-list aggregation — exposed package-private so
    * the plan test can COUNT its exchanges (the pin truncates every
    * downstream explain, so the "one full-stream exchange" claim is
    * only machine-checkable on this frame). */
  private[graft] def postingListsPrePin(sh0: DataFrame, cap: Long): DataFrame = {
    import graft.functions.BoundedCollectLong.boundedCollectLong
    require(cap <= Int.MaxValue - 1, s"maxDf cap too large: $cap")
    sh0.select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .groupBy("sh")
      .agg(boundedCollectLong(col("doc_id"), cap.toInt).as("docs"))
      .filter(size(col("docs")) <= cap)
      .select(sort_array(col("docs")).as("docs"))
  }

  private def overlapPairsPostings(sh0: DataFrame, cap: Long): DataFrame = {
    val postings = graft.core.Materialize.pin(postingListsPrePin(sh0, cap))
    val counts = postings.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = postings
      .filter(size(col("docs")) >= 2)
      .select(posexplode(col("docs")).as(Seq("i", "doc_a")), col("docs"))
      .select(col("doc_a"),
        explode(slice(col("docs"), col("i") + 2,
          size(col("docs")) - col("i") - 1)).as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    // `counts` is DOC-sized — un-hinted for the same AQE promote/
    // degrade reason as the uncapped path.
    common
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_sh" -> "n_a")), Seq("doc_a"))
      .join(counts.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_sh" -> "n_b")), Seq("doc_b"))
  }

  /** Pairwise Jaccard over distinct shingles via inverted-index join:
    * |A∩B| from the shingle self-join, |A∪B| = |A|+|B|-|A∩B|.
    * `maxDf`: see [[overlapPairs]] — stop-shingle cap for corpora with
    * shared boilerplate. */
  def jaccardPairs(sh0: DataFrame, minJaccard: Double,
      maxDf: Option[Long] = None): DataFrame =
    overlapPairs(sh0, maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("common") / (col("n_a") + col("n_b") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** The per-doc array table [[jaccardPairsPrefix]] pins — exposed
    * package-private so the plan test can COUNT its exchanges on the
    * operator's own frame (the pin truncates every downstream explain).
    * Shingles ride as xxhash64 longs (see [[jaccardPairsPrefix]]).
    *
    * ONE pinned per-doc table answers every downstream question: the
    * df window (the one unavoidable shingle-keyed exchange) feeds a
    * doc-keyed collect whose array is SORTED BY (df, shingle) — the
    * same total order the old per-doc rank window sorted the whole
    * stream by, now an in-memory array_sort per doc (bounded by
    * shingles/doc, never corpus-sized). Prefixes slice the array,
    * lengths are its size, and verification intersects the same
    * arrays — so the old shape's second full-stream sort exchange
    * (the doc-partitioned rank window), its per-side docSets
    * collect exchanges, and the lens distinct exchanges all collapse
    * into this one groupBy. Full-stream exchanges: 3 -> 2.
    */
  private[graft] def docsAllPrePin(sh0: DataFrame): DataFrame =
    sh0.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("shingle")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("__df"), col("shingle"))))
        .as("__ps"))
      .select(col("doc_id"),
        expr("transform(__ps, p -> p.shingle)").as("__shs"),
        size(col("__ps")).cast(LongType).as("n_sh"))

  /** EXACT Jaccard pairs via PPJoin-style prefix filtering (Xiao et
    * al., WWW'08 — public algorithm) — same output as [[jaccardPairs]]
    * (spec-checked identical), tractable where the plain inverted-
    * index join is not. The observation: two docs with Jaccard >= t
    * MUST share a shingle among each doc's `|d| - ceil(t*|d|) + 1`
    * RAREST shingles (rarity = global document frequency, shingle-asc
    * tiebreak for a total order). So candidate generation joins only
    * those prefixes — a universal boilerplate shingle (df ~ corpus
    * size) sorts LAST in every doc and never enters a prefix, so the
    * df² pair blow-up the `maxDf` cap approximates away simply never
    * happens, with NO change of measure: verification recounts the
    * true overlap of every candidate against the FULL shingle sets.
    *
    * Scale shape: df join (shingle-keyed, map-combined), per-doc
    * prefix rank window (doc-partitioned — bounded by shingles/doc,
    * never corpus-sized), prefix self-join (postings² only over
    * PREFIX postings), then candidate-pair verification that streams
    * each candidate's shingle lists through one equi-join —
    * O(candidates * shingles/doc), linear in true near-dup mass.
    * This is the exactness escape hatch [[Corpus.splitSafeExact]]
    * rides: split-safety without trusting empirical LSH recall. */
  def jaccardPairsPrefix(sh0: DataFrame, minJaccard: Double): DataFrame = {
    // shingles join/shuffle as 8-byte xxhash64 keys, not ~25-byte
    // 3-gram strings — every downstream exchange (df window, prefix
    // self-join, set arrays) shrinks ~3x, and array_intersect runs on
    // long[] instead of UTF8Strings. Distinctness is preserved modulo
    // 64-bit collisions — the same accepted caveat [[exactDedup]]'s
    // group-by-payload-hash carries (P[any collision] ~ u^2/2^65 for u
    // distinct shingles: ~4e-9 at u=1e5/doc-corpus; the property test
    // vs the string-keyed [[jaccardPairs]] enforces identity in
    // practice).
    val docsAll = graft.core.Materialize.pin(docsAllPrePin(sh0))
    // per-doc prefix length: |d| - ceil(t*|d|) + 1 rarest shingles
    // (identical to the old rank-window filter; greatest(0) guards the
    // t > 1 corner where the old filter selected nothing)
    val prefLen = greatest(lit(0L),
      col("n_sh") - ceil(lit(minJaccard) * col("n_sh")) + 1).cast("int")
    val prefix = docsAll.select(col("doc_id"), col("n_sh").as("__n"),
      explode(slice(col("__shs"), lit(1), prefLen)).as("shingle"))
    // The self-join stays SLIM (doc_id, shingle — 16 bytes/row; it is
    // the dominant shuffle, and carrying |n| through it measured +18%
    // at gate scale for zero pruning on uniform-length corpora).
    val cand0 = prefix.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // PPJoin length filter between the pair distinct and verification:
    // J(A,B) >= t forces t*|B| <= |A| (and symmetrically), so
    // size-mismatched candidates drop BEFORE the verification joins
    // shuffle full shingle ARRAYS. The length table is doc-count-sized
    // (un-hinted — AQE broadcasts while it fits); internal pruning
    // only, output unchanged (identity property test vs jaccardPairs).
    // A no-op on uniform-length corpora, load-bearing on heterogeneous
    // ones where prefix collisions span length decades.
    val lens = docsAll.select("doc_id", "n_sh")
    val cand = cand0
      .join(lens.select(col("doc_id").as("doc_a"), col("n_sh").as("__na")), Seq("doc_a"))
      .join(lens.select(col("doc_id").as("doc_b"), col("n_sh").as("__nb")), Seq("doc_b"))
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(minJaccard) * greatest(col("__na"), col("__nb")))
      .select("doc_a", "doc_b")
    // verification against the same per-doc shingle arrays: two
    // equi-joins against the pinned table and a codegen'd
    // array_intersect per candidate — no per-pair overlap aggregation
    // shuffle, no re-collect (array order is irrelevant to intersect).
    // Same integer division as [[jaccardPairs]], so the output doubles
    // are bit-identical to the plain path.
    cand
      .join(docsAll.select(col("doc_id").as("doc_a"),
        col("__shs").as("__sa"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(docsAll.select(col("doc_id").as("doc_b"),
        col("__shs").as("__sb"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("__sa"), col("__sb"))).cast(LongType))
      .select(col("doc_a"), col("doc_b"),
        (col("common") / (col("n_a") + col("n_b") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Gate query: the prefix-filtered exact form over the same corpus
    * and threshold as x_dedup_ngram_jaccard — output-identical (it
    * shares that row's oracle), plan radically different. */
  val dedupJaccardPrefix: Q = (s, dir) =>
    jaccardPairsPrefix(shingles(t(s, dir, "documents")), 0.5)
      .orderBy("doc_a", "doc_b")

  /** Pairwise set CONTAINMENT: |A∩B| / min(|A|, |B|) — the doc-in-doc
    * signal Jaccard misses. A page quoted whole inside a much larger
    * page has near-1 containment but tiny Jaccard (the union is
    * dominated by the big doc), so a Jaccard-thresholded dedup keeps
    * both copies; containment-thresholded dedup is the standard
    * remedy (e.g. suffix/substring dup filtering in web-corpus
    * curation). Same inverted-index overlap join and scale shape as
    * [[jaccardPairs]] — only the denominator changes (one IEEE
    * int64/int64 division, bit-portable). `maxDf`: see
    * [[overlapPairs]]. */
  def containmentPairs(sh0: DataFrame, minContainment: Double,
      maxDf: Option[Long] = None): DataFrame =
    overlapPairs(sh0, maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("common") / least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= minContainment)

  /** Exact dedup: group by content hash (16-byte shuffle key). */
  val dedupExact: Q = (s, dir) =>
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  /** Stop-shingle cap for the exact-overlap GATE queries: a no-op on
    * the gate corpora (max shingle df measured 25 at sf0.1, 9 below)
    * so the oracle hashes are unchanged, but at corpus scale it bounds
    * the per-shingle join fan-out to cap² pairs — the boilerplate-
    * shingle quadratic runaway BENCH_NOTES documents is cut off at
    * the source instead of discovered in production. */
  val GateMaxDf: Long = 1000L

  /** n-gram Jaccard near-dup pairs (threshold 0.5). */
  val dedupNgramJaccard: Q = (s, dir) =>
    jaccardPairs(shingles(t(s, dir, "documents")), 0.5, maxDf = Some(GateMaxDf))
      .orderBy("doc_a", "doc_b")

  /** Containment pairs (threshold 0.8): doc-in-doc candidates. */
  val dedupContainment: Q = (s, dir) =>
    containmentPairs(shingles(t(s, dir, "documents")), 0.8,
      maxDf = Some(GateMaxDf))
      .orderBy("doc_a", "doc_b")

  val NumHashes = 32
  val BandRows = 4 // => 8 bands

  /** MinHash signatures in ONE pass over the (doc, shingle) rows:
    * `numHashes` independent min aggregates, each over a
    * differently-seeded xxhash64 of the shingle — no seed-expansion
    * explode (which would multiply shuffle input `numHashes`x),
    * partial aggregation shrinks each map task to one row per doc.
    * Signature columns m0..m{numHashes-1}. */
  def minhashSignatures(sh: DataFrame, numHashes: Int = NumHashes): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"m$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: band hash = xxhash64 of the band's rows;
    * candidates = equi-join on (band, band_hash); verified with true
    * Jaccard. This is the 100 TB near-dup path: candidate generation
    * cost is linear in corpus size, not quadratic.
    *
    * Recall is set by the banding scheme, NOT by `minJaccard`: with
    * `b` bands of `r` rows, a pair at true Jaccard `j` becomes a
    * candidate with probability `1 - (1 - j^r)^b` (verification then
    * makes precision exact). The 32x(8x4) default gives ~0.40 at
    * j=0.5 rising to >0.999 by j~0.85 — i.e. borderline pairs just
    * above the threshold MAY be missed; pairs well above it are
    * essentially never missed. Callers that need near-full recall AT
    * a 0.5 threshold should pass `numHashes=64, bandRows=2` (32
    * bands: ~0.9999 at j=0.5) and pay the wider candidate set, or
    * run [[jaccardPairs]] for exactness. */
  def minhashLsh(docs: DataFrame, minJaccard: Double,
      numHashes: Int = NumHashes, bandRows: Int = BandRows): DataFrame =
    // Materialize the shared index frames once — Spark re-executes
    // shared subtrees here (no ReusedExchange; self-join sides
    // canonicalize differently): the shingle index feeds the signature
    // build AND the verification sets, and the signature frame feeds
    // both band self-join sides. This IS the "build the LSH index"
    // step (8 bytes x NumHashes per doc for signatures). Isolated
    // timing on a quiet host: 2.5s -> 2.0s at sf0.1 with both
    // checkpoints vs signature-only.
    minhashLshFromShingles(graft.core.Materialize.pin(shingles(docs)),
      minJaccard, numHashes, bandRows)

  /** [[minhashLsh]] over an ALREADY-MATERIALIZED shingle frame —
    * callers that also feed the shingles to another consumer (the
    * recall gate runs the exact prefix join AND this pipeline over one
    * corpus) pass their own pin so the shingle derivation runs once,
    * not once per consumer. `sh` must be pinned/cached by the caller;
    * this function will re-read it for signatures AND verification
    * sets. */
  def minhashLshFromShingles(sh: DataFrame, minJaccard: Double,
      numHashes: Int = NumHashes, bandRows: Int = BandRows): DataFrame = {
    require(numHashes % bandRows == 0,
      s"bandRows ($bandRows) must divide numHashes ($numHashes)")
    val sig = graft.core.Materialize.pin(minhashSignatures(sh, numHashes))
    val numBands = numHashes / bandRows
    val bandCols = (0 until numBands).map { b =>
      val rows = (0 until bandRows).map(r => col(s"m${b * bandRows + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bh"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Verify ONLY the candidate pairs (never the full pair space — that
    // would undo LSH's linear-cost candidate generation): attach each
    // side's shingle set and compute exact Jaccard per candidate.
    val sets = sh.groupBy("doc_id").agg(collect_set("shingle").as("sset"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("set_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("set_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  val dedupMinhashLsh: Q = (s, dir) =>
    minhashLsh(t(s, dir, "documents"), 0.5).orderBy("doc_a", "doc_b")

  /** (doc_id, band, bh) LSH band index — the frame a production
    * pipeline materializes to parquet once per corpus. */
  def minhashBands(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(shingles(docs))
    val numBands = NumHashes / BandRows
    val bandCols = (0 until numBands).map { b =>
      val rows = (0 until BandRows).map(r => col(s"m${b * BandRows + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Per-ROW minhash band index: identical signatures/bands to
    * [[minhashBands]] (same shingle set, same seeded xxhash64, same
    * band hashing) but computed entirely with per-row higher-order
    * functions — no explode, no groupBy. That makes it legal in a
    * STREAMING context (stateless projection; aggregations would force
    * update/complete output modes) and useful in batch wherever a
    * map-only pipeline matters more than sharing the exploded shingle
    * frame. */
  def rowMinhashBands(docs: DataFrame): DataFrame = {
    // token array bound to a column BEFORE wordNgrams — expressions
    // referenced inside HOF lambdas are re-evaluated per element
    val withSh = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("__ws"))
      .select(col("doc_id"), TextAnalysis.wordNgrams(col("__ws"), 3).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val sigCols = (0 until NumHashes).map(i =>
      array_min(transform(col("__sh"), s => xxhash64(lit(i), s))).as(s"m$i"))
    val sig = withSh.select(col("doc_id") +: sigCols: _*)
    val numBands = NumHashes / BandRows
    val bandCols = (0 until numBands).map { b =>
      val rows = (0 until BandRows).map(r => col(s"m${b * BandRows + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Incremental near-dup: match a NEW batch against an EXISTING
    * corpus — the daily-ingest flow, where re-deduping the whole
    * corpus per batch (quadratic over days) is exactly what an
    * indexed pipeline avoids. The new batch's bands are BROADCAST
    * (a day's ingest is small next to the accumulated corpus), the
    * corpus band index streams through the join unshuffled, and only
    * candidate pairs are verified with exact Jaccard. Returns
    * (new_id, corpus_id, jaccard); new-batch-internal duplicates are
    * deliberately out of scope here (run [[minhashLsh]] on the batch
    * for those). */
  def minhashLshIncremental(newDocs: DataFrame, corpusDocs: DataFrame,
      minJaccard: Double): DataFrame = {
    val newBands = minhashBands(newDocs)
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
    val corpusBands = minhashBands(corpusDocs)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bh"))
    val cand = corpusBands.join(broadcast(newBands), Seq("band", "bh"))
      .select("new_id", "corpus_id").distinct()
    val newSets = shingles(newDocs).groupBy("doc_id")
      .agg(collect_set("shingle").as("set_n"))
      .select(col("doc_id").as("new_id"), col("set_n"))
    val corpusSets = shingles(corpusDocs).groupBy("doc_id")
      .agg(collect_set("shingle").as("set_c"))
      .select(col("doc_id").as("corpus_id"), col("set_c"))
    cand
      .join(broadcast(newSets), Seq("new_id"))
      .join(corpusSets, Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        (size(array_intersect(col("set_n"), col("set_c"))).cast("double") /
          size(array_union(col("set_n"), col("set_c")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Driver query: docs 0-9 play "today's batch", the rest the
    * corpus (a fixed 10-doc batch at every scale factor, so the
    * broadcast side stays batch-sized as the corpus grows). */
  val dedupIncremental: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    minhashLshIncremental(
      docs.filter(col("doc_id") < 10),
      docs.filter(col("doc_id") >= 10), 0.5)
      .orderBy("new_id", "corpus_id")
  }

  /** Incremental near-dup against a PRE-BUILT corpus band index (the
    * parquet artifact [[IndexStore.buildMinhashIndex]] writes) — the
    * true daily-ingest shape: the corpus is never re-shingled or
    * re-signed per batch. Verification joins back to corpus DOCS, but
    * semi-join-pruned to the candidate set first, so its cost is
    * O(candidates), not O(corpus) — at 100 TB that prune is the
    * difference between reading a few documents and re-scanning the
    * archive. Output equals [[minhashLshIncremental]] (same bands,
    * same exact-Jaccard verification); IndexStoreSpec checks it. */
  def minhashLshIncrementalIndexed(newDocs: DataFrame, corpusDocs: DataFrame,
      corpusBands: DataFrame, minJaccard: Double,
      newBandsIn: Option[DataFrame] = None): DataFrame = {
    // `newBandsIn`: a pre-computed (doc_id, band, bh) frame for the
    // new batch — the qtermsIn discipline: a caller that already
    // banded the batch (e.g. to prune a grown index's partitions,
    // [[graft.streaming.DedupIngest]]) must not pay the signatures
    // twice
    val newBands = newBandsIn.getOrElse(minhashBands(newDocs))
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
    // candidate pairs feed the semi-join prune AND the verification
    // join — pin the (tiny) frame rather than probing the index twice
    val cand = graft.core.Materialize.pin(corpusBands
      .select(col("doc_id").as("corpus_id"), col("band"), col("bh"))
      .join(broadcast(newBands), Seq("band", "bh"))
      .select("new_id", "corpus_id").distinct())
    val newSets = shingles(newDocs).groupBy("doc_id")
      .agg(collect_set("shingle").as("set_n"))
      .select(col("doc_id").as("new_id"), col("set_n"))
    val candDocs = corpusDocs.join(
      broadcast(cand.select(col("corpus_id").as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi")
    val corpusSets = shingles(candDocs).groupBy("doc_id")
      .agg(collect_set("shingle").as("set_c"))
      .select(col("doc_id").as("corpus_id"), col("set_c"))
    cand
      .join(broadcast(newSets), Seq("new_id"))
      .join(corpusSets, Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        (size(array_intersect(col("set_n"), col("set_c"))).cast("double") /
          size(array_union(col("set_n"), col("set_c")))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Driver query for the artifact flow: build the corpus band index
    * to parquet once, reload it, run the batch against it. Same oracle
    * as [[dedupIncremental]] — the indexed path must produce the
    * identical result. */
  val dedupIncrementalIndexed: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") >= 10)
    val path = IndexStore.defaultPath("minhash", dir)
    IndexStore.buildMinhashIndex(corpus, path)
    minhashLshIncrementalIndexed(
      docs.filter(col("doc_id") < 10), corpus,
      IndexStore.loadMinhashIndex(s, path), 0.5)
      .orderBy("new_id", "corpus_id")
  }

  /** SimHash: 64-bit signature; bit i set iff the sum of (+1/-1) votes
    * from token hashes is positive. One scan, 64 conditional sums. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = graft.core.Fanout.bySize(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  val dedupSimhash: Q = (s, dir) =>
    simhash(t(s, dir, "documents")).orderBy("doc_id")

  /** SimHash near-dup pairs within Hamming distance `maxHamming`:
    * pigeonhole banding with `maxHamming + 1` bands — at most
    * `maxHamming` bits differ, so by pigeonhole at least one of the
    * `maxHamming + 1` bands is bit-identical on both sides; candidates
    * come from an equi-join on (band_idx, band_value), then verified
    * with bit_count(xor) — built-ins only, no cross join. Band widths
    * are floor/ceil(64 / numBands) (boundaries b*64/numBands), so the
    * guarantee holds for ANY maxHamming in [0, 31]; more bands = more
    * recall guarantee but looser candidate filter (a 1-bit band matches
    * half the corpus), hence the cap. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsFromSigs(simhash(docs), maxHamming)

  /** Banding + verification stage over precomputed (doc_id, simhash)
    * signatures (separated so the pigeonhole guarantee is testable on
    * exact bit patterns). `sigBits` must match the signature width:
    * banding a 32-bit signature as 64 bits would make the upper bands
    * all-zero — every pair a candidate. */
  def simhashPairsFromSigs(sig: DataFrame, maxHamming: Int,
      sigBits: Int = 64): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= sigBits / 2 - 1,
      s"maxHamming must be in [0, ${sigBits / 2 - 1}] (got $maxHamming): bands need >= 2 bits each")
    val numBands = maxHamming + 1
    // one row + 8 bytes per doc; materialized once so the band
    // self-join's two sides don't each recompute the 64-bit-vote
    // aggregation over the exploded token stream
    val sigC = graft.core.Materialize.pin(sig)
    val bandCols = (0 until numBands).map { b =>
      val lo = b * sigBits / numBands
      val width = (b + 1) * sigBits / numBands - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("bv"))
    }
    val banded = sigC.select(col("doc_id"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  val dedupSimhashPairs: Q = (s, dir) =>
    simhashPairs(t(s, dir, "documents"), 3).orderBy("doc_a", "doc_b")

  /** Portable-signature variant of the pairs operator: same banding +
    * bit_count verification over the 32-bit char-polynomial simhash,
    * which DuckDB can recompute exactly — so the whole near-dup-pairs
    * shape (banding included) gets a hash-checked oracle, with the
    * 64-bit xxhash variant keeping the property-spec coverage. */
  val dedupSimhashPairsPortable: Q = (s, dir) =>
    simhashPairsFromSigs(
      TextAnalysis.simhash32(t(s, dir, "documents"))
        .withColumnRenamed("simhash32", "simhash"),
      maxHamming = 1, sigBits = 32)
      .orderBy("doc_a", "doc_b")

  /** MinHash near-dup via Spark ML's built-in MinHashLSH — the
    * "compose existing ops" alternative (SURVEY §7.3 preference (a))
    * to the hand-rolled [[minhashLsh]]: shingle sets -> binary
    * CountVectorizer vectors -> MinHashLSH model ->
    * approxSimilarityJoin at Jaccard distance 1-minJaccard. Useful as
    * a cross-check; the hand-rolled version keeps the banding and
    * verification explicit and avoids the vocabulary fit. */
  def minhashLshMl(docs: DataFrame, minJaccard: Double): DataFrame = {
    import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}
    val sets = shingles(docs).groupBy("doc_id")
      .agg(collect_list("shingle").as("shingle_arr"))
    val cv = new CountVectorizer().setInputCol("shingle_arr")
      .setOutputCol("features").setBinary(true)
    val vecs = cv.fit(sets).transform(sets)
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(NumHashes).setSeed(42L)
    val model = mh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, 1.0 - minJaccard, "dist")
      .select(col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        (lit(1.0) - col("dist")).as("jaccard"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** Embedding-cosine near-dup pairs: all (a, b) with cosine above
    * threshold, via the native codegen'd expression. Ids only in the
    * output (similarity ulps differ across engines; ids don't). At
    * corpus scale the pair space comes from Similarity.lshBucket
    * blocking, not this exact quadratic form — which is the oracle. */
  def embeddingNearDups(emb: DataFrame, minSim: Double): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .filter(cosineSim(col("emb_a"), col("emb_b")) >= minSim)
      .select("vec_a", "vec_b")
  }

  val dedupEmbedding: Q = (s, dir) =>
    embeddingNearDups(t(s, dir, "embeddings"), 0.4).orderBy("vec_a", "vec_b")

  /** Semantic dedup, SemDeDup-shaped (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, generate
    * near-dup pairs WITHIN each cluster only, then canonical-drop via
    * connected components. The scale point: pair generation is
    * sum-over-cells |cell|^2, not |corpus|^2 — with balanced cells
    * that is a 1/nCentroids quadratic-cost cut, and the only shuffle
    * keys on the (small) cell id. Precision is exact (every candidate
    * verified with true cosine); recall is what clustering spends:
    * a pair whose members land in different cells is MISSED. That is
    * the documented SemDeDup tradeoff, not an accident — `probes > 1`
    * assigns each vector to its `probes` nearest cells (candidates
    * union over shared cells), trading candidate volume for boundary
    * recall. On the gate corpora the output is empirically identical
    * to the exact quadratic path at threshold 0.4 (near-dup embedding
    * pairs sit far inside cell interiors); that identity is a
    * property of those corpora, NOT a general contract.
    *
    * Output: (vec_id, canonical_id) for every vector in a near-dup
    * cluster, min id canonical — same shape as [[canonicalClusters]].
    */
  /** The pair-generation stage of [[semanticDedup]], exposed so its
    * plan shape is assertable: for probes=1 the whole stage is scans +
    * one equi-join on the cell id — no cartesian anywhere. */
  def semanticPairs(emb: DataFrame, minSim: Double, nCentroids: Int = 8,
      probes: Int = 1): DataFrame = {
    import graft.functions.CosineSimilarity.cosineSim
    require(probes >= 1, s"probes must be >= 1 (got $probes)")
    val (assigned1, centroids) = Similarity.ivfIndexWithCentroids(emb, nCentroids)
    val assigned =
      if (probes == 1) assigned1
      else {
        // multi-probe assignment: top `probes` cells per vector via
        // the bounded TopK aggregator. The per-cell scoring is still a
        // broadcast cross (|corpus| x |cells| scored rows, map-side,
        // no shuffle), but the partial-aggregating TopK reduces each
        // map task to one <= probes-sized row per vector BEFORE the
        // shuffle — O(|corpus| * probes) shuffled, where the previous
        // window-rank formulation shuffled and sorted the full
        // |corpus| x |cells| row set (see Similarity.assignCells for
        // the same lesson at probes=1). Ties break toward the lower
        // cell id, matching ORDER BY sim DESC, cell semantics.
        import emb.sparkSession.implicits._
        val reps = broadcast(centroids.toDF("cell", "rep"))
        emb.select(col("vec_id"), col("embedding")).crossJoin(reps)
          .select(col("vec_id"), col("cell"),
            cosineSim(col("embedding"), col("rep")).as("sim"))
          .as[(Long, Long, Double)]
          .groupByKey(_._1)
          .mapValues(r => (r._3, r._2))
          .agg(new graft.functions.TopK(probes).toColumn.name("top"))
          .flatMap { case (vid, items) =>
            items.map { case (_, cell) => (vid, cell) } }
          .toDF("vec_id", "cell")
      }
    val e = emb.select(col("vec_id"), col("embedding"))
      .join(assigned, Seq("vec_id"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("cell"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(cosineSim(col("emb_a"), col("emb_b")) >= minSim)
      // multi-probe: the same pair can collide in several shared cells
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")).distinct()
  }

  def semanticDedup(emb: DataFrame, minSim: Double, nCentroids: Int = 8,
      probes: Int = 1): DataFrame =
    canonicalClusters(semanticPairs(emb, minSim, nCentroids, probes))
      .select(col("doc_id").as("vec_id"), col("canonical_id"))

  val dedupSemantic: Q = (s, dir) =>
    semanticDedup(t(s, dir, "embeddings"), 0.4).orderBy("vec_id")

  /** Canonical-id assignment over near-dup pairs: connected components
    * by iterative min-label propagation (driver-controlled loop, each
    * step a groupBy-min join — the standard Spark CC shape; converges
    * in O(diameter) rounds, and near-dup clusters are shallow).
    *
    * Loop discipline (the part that matters at depth):
    *  - ONE Spark job per round: the changed flag is computed inside
    *    the propagation projection, the round's frame is marked for a
    *    LAZY local checkpoint, and the single `count` action both
    *    materializes the checkpoint blocks and reads the flag — no
    *    second convergence job re-joining old vs new labels.
    *  - The previous round's checkpoint blocks are unpersisted as soon
    *    as the new round is pinned (Spark has no public release API for
    *    local checkpoints; GraftColumnBridge.unpersistCheckpoint frees
    *    the LogicalRDD's cache), so peak pinned memory is 2 rounds of
    *    labels + the edge list, not O(rounds).
    * A large-star/small-star rewrite would cut round COUNT for deep
    * graphs; near-dup cluster graphs are shallow (diameter ~ chain
    * length of borderline pairs), so fewer-jobs-per-round dominates. */
  /** @param reliable pin each round with a checkpoint-dir-backed
    *   `checkpoint()` instead of `localCheckpoint()`. Local checkpoints
    *   store blocks on executors only — on a real cluster, losing one
    *   executor mid-loop kills the query (blocks are not recomputable:
    *   the lineage was truncated). A reliable checkpoint writes rounds
    *   to the fault-tolerant checkpoint dir (HDFS/S3 in production), so
    *   the loop survives executor loss at the cost of a filesystem
    *   round-trip per iteration. Requires
    *   `spark.sparkContext.setCheckpointDir(...)`; stale round files
    *   are GC-cleaned when
    *   `spark.cleaner.referenceTracking.cleanCheckpoints` is set.
    * @param shortcut pointer-jumping: after the neighbor-min step each
    *   round also applies `label <- label(label)`, so labels hop two
    *   levels per round and convergence needs O(log diameter) rounds
    *   instead of O(diameter). Near-dup graphs are usually shallow,
    *   where this costs one extra (cheap, label-sized) join per round
    *   for nothing — but a CHAIN topology (each doc borderline-similar
    *   to the next; measured on a ring-patterned synthetic corpus,
    *   BENCH_NOTES r5) makes the plain loop's round count the whole
    *   runtime, and the jump collapses it. */
  def canonicalClusters(pairs: DataFrame, reliable: Boolean = false,
      shortcut: Boolean = true): DataFrame = {
    import org.apache.spark.sql.classic.GraftColumnBridge.unpersistCheckpoint
    // the session-wide Materialize.ReliableConf knob also flips the
    // loop into reliable mode — the explicit param is the per-call
    // override (can only strengthen; conf=true wins over param=false
    // so one session setting makes a whole job fault-tolerant)
    val rel = reliable || graft.core.Materialize.isReliable(pairs.sparkSession)
    // capCheckpointStats: checkpointing preserves the source plan's
    // estimated stats on the LogicalRDD, and join-size estimates
    // MULTIPLY — in this loop the carried BigInt doubles its bit
    // length every round until stats estimation overflows BigInteger
    // (observed on the 100k ring-topology soak at round ~25). Capping
    // at Long.MaxValue per pin breaks the compounding; every consumer
    // decision (broadcast thresholds) is unaffected at that magnitude.
    def pin(df: DataFrame, eager: Boolean = true): DataFrame =
      org.apache.spark.sql.classic.GraftColumnBridge.capCheckpointStats(
        if (rel) df.checkpoint(eager) else df.localCheckpoint(eager))
    // executor-memory release only matters for local-checkpoint blocks;
    // reliable rounds live as files owned by the checkpoint manager
    def release(df: DataFrame): Unit = if (!rel) unpersistCheckpoint(df)
    // Pin the edge list once: every label-propagation round re-executes
    // `edges`' lineage otherwise — for x_dedup_clusters that lineage is
    // the whole Jaccard pipeline, re-run per iteration
    // (isolated warm timing at sf0.1: 3.7s pinned vs 7.3s unpinned).
    val edges = pin(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b"), col("doc_a"))))
    var labels = pin(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min("label").as("nbr_label"))
      val stepped = labels.join(prop, col("node") === col("src"), "left")
        .select(col("node"), col("label").as("__old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      val next = pin(
        if (!shortcut)
          stepped.select(col("node"), col("label"),
            (col("label") < col("__old")).as("chg"))
        else {
          // pointer jump THROUGH THE PREVIOUS round's pinned labels —
          // label <- min(label, oldLabels(label)) — instead of the
          // post-step frame. Equally monotone (oldLabels(x) <= x and
          // every value is a component member), so the fixpoint is the
          // same component minimum, and chg = (final < __old) still
          // detects it: at chg = 0 the neighbor-min step itself made no
          // change, which is exactly the CC convergence condition. What
          // this buys (r21): the old self-jump had to pin `stepped`
          // EAGERLY first (a lazily-pinned self-join SQUARES the plan
          // per round until stats estimation overflows BigInteger) —
          // one extra full-labels materialization job per round.
          // `labels` is already a pinned leaf, so joining it a second
          // time in the same plan re-reads blocks, never recomputes,
          // and the plan stays linear without any mid-round pin.
          stepped.join(labels.select(col("node").as("__jn"), col("label").as("__jl")),
              col("label") === col("__jn"), "left")
            .select(col("node"),
              least(col("label"), coalesce(col("__jl"), col("label"))).as("label"),
              (least(col("label"), coalesce(col("__jl"), col("label"))) < col("__old")).as("chg"))
        },
        eager = false) // materialized by the count below
      changed = next.filter(col("chg")).count()
      release(labels)
      labels = next
    }
    val out = labels.select(col("node").as("doc_id"), col("label").as("canonical_id"))
    release(edges) // converged labels no longer depend on it
    out
  }

  /** RESUMABLE connected components: the same min-label propagation as
    * [[canonicalClusters]] but with each round persisted to a parquet
    * work dir, so a crashed job (driver OR whole-cluster loss — the
    * failure class even `reliable=true` checkpoints don't survive,
    * since checkpoint blocks die with the application) resumes from
    * the last COMPLETE round instead of restarting. A round is
    * complete iff its `_SUCCESS` marker exists — Spark's parquet
    * commit protocol writes it last, so a crash mid-write leaves an
    * incomplete dir that resume transparently redoes. The propagation
    * math is deterministic integer min-label, so an interrupted+resumed
    * run is bit-identical to an uninterrupted one (Round11Spec injects
    * a mid-loop failure and asserts exactly that).
    *
    * Scale shape: identical joins to [[canonicalClusters]]; pinning is
    * by parquet round-trip instead of checkpoint blocks, which also
    * flattens lineage. One extra fs round-trip per round is the price
    * of restartability — the same trade Structured Streaming makes
    * with its commit log. Old rounds are deleted two rounds back, so
    * the work dir holds at most 2 label generations + the edge list.
    *
    * Workdir lifecycle: the dir is LEASED to one application at a time
    * — a `_graft_lease` marker (atomic create, [[graft.core.Markers]])
    * holds the owner's applicationId, and a second job pointed at the
    * same workDir fails loudly instead of interleaving round writes
    * with the first (two writers would corrupt each other's label
    * generations silently — the plane-stamp lesson applied to state
    * dirs). The SAME application re-entering its own workDir is the
    * resume path and always proceeds; taking over a dead application's
    * workDir needs explicit `breakLease = true` (resume state is
    * deterministic, so takeover is sound — the guard only exists to
    * catch two LIVE writers). On success the workDir (rounds + edges +
    * lease) is deleted by default — the result is eagerly pinned off
    * the round parquet first — so completed runs leave no scratch
    * behind; pass `cleanupOnSuccess = false` to keep the final label
    * generation for inspection (the lease alone is released then).
    *
    * @param onRoundComplete test/ops hook invoked after round r is
    *   durably committed (failure injection, progress reporting). */
  /** INCREMENTAL connected components: merge a batch of NEW edges
    * into an existing (doc_id, label) map without re-clustering the
    * archive — the maintenance move that keeps continuous dedup
    * ([[graft.streaming.DedupIngest]]'s verified pairs arriving
    * forever) from paying a corpus-wide label propagation per batch.
    *
    * The algebra that makes it exact: [[canonicalClusters]] labels
    * are min-node-per-component, and the min of a union is the min
    * over the parts' minima — so CC over (old ∪ new) edges equals CC
    * run on the LABEL GRAPH (each new edge projected to its
    * endpoints' current labels) remapped over the old assignment.
    * The iterative propagation therefore touches a graph bounded by
    * |newPairs|, never the corpus; the corpus-sized work is ONE
    * equi-join to look up endpoint labels and ONE broadcast patch of
    * the changed labels (both single-pass, no iteration). The
    * label→newLabel mapping is bounded by 2·|newPairs| rows — the
    * broadcast is batch-sized by construction, documented here as
    * the bound's call site.
    *
    * Contract: `labels` must be a min-label (doc_id, canonical_id)
    * assignment (produced by [[canonicalClusters]],
    * [[canonicalClustersResumable]], or this function); output is the
    * full updated assignment, identical to
    * `canonicalClusters(oldPairs ∪ newPairs)` row for row. Nodes
    * appearing only in `newPairs` enter with themselves as label,
    * exactly as a fresh CC would seed them. */
  def clustersIncremental(labels: DataFrame, newPairs: DataFrame): DataFrame = {
    val endpoints = newPairs.select(col("doc_a").as("doc_id"))
      .union(newPairs.select(col("doc_b")))
      .distinct()
    // current label per endpoint; unseen nodes label themselves
    val endpointLabels = endpoints.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
    // the label graph: one edge per new pair, projected to labels
    val labelEdges = newPairs
      .join(endpointLabels.select(col("doc_id").as("doc_a"),
        col("canonical_id").as("__la")), Seq("doc_a"))
      .join(endpointLabels.select(col("doc_id").as("doc_b"),
        col("canonical_id").as("__lb")), Seq("doc_b"))
      .select(col("__la").as("doc_a"), col("__lb").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // tiny CC over the label graph → old-label → merged-min mapping
    val mapping = canonicalClusters(labelEdges)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("canonical_id"),
        col("canonical_id").as("__new"))
    def remap(df: DataFrame): DataFrame =
      df.join(broadcast(mapping), Seq("canonical_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__new"), col("canonical_id")).as("canonical_id"))
    remap(labels)
      .unionByName(remap(endpointLabels
        .join(labels, Seq("doc_id"), "left_anti")))
  }

  def canonicalClustersResumable(pairs: DataFrame, workDir: String,
      onRoundComplete: Int => Unit = _ => (),
      cleanupOnSuccess: Boolean = true,
      breakLease: Boolean = false): DataFrame = {
    import graft.core.Markers
    val spark = pairs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    def fs(p: String) = new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
    def complete(p: String): Boolean =
      fs(p).exists(new org.apache.hadoop.fs.Path(s"$p/_SUCCESS"))
    def drop(p: String): Unit =
      fs(p).delete(new org.apache.hadoop.fs.Path(p), true)
    def roundPath(r: Int) = s"$workDir/labels_r$r"

    val leasePath = new org.apache.hadoop.fs.Path(s"$workDir/_graft_lease")
    val appId = spark.sparkContext.applicationId
    val lfs = fs(workDir)
    def takeoverOrDie(holder: String): Unit =
      if (breakLease) Markers.forceWrite(lfs, leasePath, appId)
      else throw new IllegalStateException(
        s"CC workDir $workDir is leased by application $holder — two jobs " +
          "sharing a workDir would corrupt each other's round state. If " +
          "that job is dead, resume with breakLease = true (or delete " +
          s"$leasePath)")
    Markers.read(lfs, leasePath) match {
      case Some(holder) if holder == appId => () // our own resume
      case Some(holder) => takeoverOrDie(holder)
      case None =>
        if (!Markers.tryCreate(lfs, leasePath, appId)) {
          val holder = Markers.read(lfs, leasePath).get // just renamed in
          if (holder != appId) takeoverOrDie(holder)
        }
    }

    val edgesPath = s"$workDir/edges"
    if (!complete(edgesPath))
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b"), col("doc_a")))
        .write.mode("overwrite").parquet(edgesPath)
    val edges = spark.read.parquet(edgesPath)

    // resume point: the HIGHEST round with a durable _SUCCESS, found
    // by listing the work dir — NOT by walking a prefix from round 0,
    // which breaks as soon as the two-generations-back GC has deleted
    // the early rounds (a crash after round 3 would then silently
    // restart from scratch instead of resuming)
    val roundRe = "labels_r(\\d+)".r
    val wd = new org.apache.hadoop.fs.Path(workDir)
    var r =
      if (!fs(workDir).exists(wd)) -1
      else fs(workDir).listStatus(wd).toSeq
        .flatMap(s => s.getPath.getName match {
          case roundRe(i) => Some(i.toInt)
          case _          => None
        })
        .filter(i => complete(roundPath(i)))
        .sorted.lastOption.getOrElse(-1)
    // r21: the round's changed-count rides the WRITE as an observed
    // metric instead of a separate filter+count job over the parquet
    // just written — one full pass over the labels per round removed
    // (the metric is computed on exactly the rows the commit wrote, so
    // the value is identical to re-reading and counting them). Resume
    // still counts from the re-read frame: an observation exists only
    // for writes this process performed.
    def writeRound(df: DataFrame, round: Int): Long = {
      val obs = org.apache.spark.sql.Observation(s"cc_chg_r${round}_${System.nanoTime()}")
      df.observe(obs, sum(when(col("chg"), 1L).otherwise(0L)).as("changed"))
        .write.mode("overwrite").parquet(roundPath(round))
      // sum over an empty frame observes null — an empty node set is a
      // converged (trivial) graph
      obs.get.get("changed").flatMap(Option(_))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    }
    var changed = -1L
    if (r < 0) {
      changed = writeRound(
        edges.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label"), lit(true).as("chg")),
        0)
      r = 0
      onRoundComplete(0)
    }
    var labels = spark.read.parquet(roundPath(r))
    if (changed < 0) changed = labels.filter(col("chg")).count() // resume path
    while (changed > 0) {
      val prop = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min("label").as("nbr_label"))
      changed = writeRound(
        labels.join(prop, col("node") === col("src"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
            (least(col("label"), coalesce(col("nbr_label"), col("label"))) < col("label")).as("chg")),
        r + 1)
      r += 1
      onRoundComplete(r)
      if (r >= 2) drop(roundPath(r - 2))
      labels = spark.read.parquet(roundPath(r))
    }
    val out = labels.select(col("node").as("doc_id"),
      col("label").as("canonical_id"))
    if (cleanupOnSuccess) {
      // pin BEFORE deleting: the frame reads the round parquet we are
      // about to remove, so materialize it off the workDir first
      val pinned = graft.core.Materialize.pin(out)
      drop(workDir)
      pinned
    } else {
      lfs.delete(leasePath, false) // release; keep rounds for inspection
      out
    }
  }

  /** Canonical-id assignment over the verified Jaccard near-dup pairs
    * — the step that turns pairwise matches into keep/drop decisions.
    * Oracle-checked: DuckDB computes the same components via a
    * recursive-CTE transitive closure (viable at oracle scale; the
    * Spark side is the iterative min-label loop that scales). */
  val dedupClusters: Q = (s, dir) =>
    canonicalClusters(
      jaccardPairs(shingles(t(s, dir, "documents")), 0.5,
        maxDf = Some(GateMaxDf)))
      .orderBy("doc_id")

  /** Gate query for the INCREMENTAL flow: merge the day's 10% pair
    * slice (the batch) into the PERSISTED 90%-archive labels through
    * [[clustersIncremental]] — the realistic maintenance shape, where
    * yesterday's assignment already exists on disk and the row prices
    * the MERGE (label-lookup join + batch-bounded CC), not the
    * archive build it presupposes (r15's gate spent ~80% of its time
    * re-clustering the archive per call; the `x_graph_*_indexed` rows'
    * `ensure*` artifact pattern, applied here). Both the edge list and
    * the archive labels are build-once artifacts shared across the
    * run. The min-label algebra makes the result identical to
    * one-shot CC over all pairs, so this row shares the
    * recursive-CTE oracle. */
  val dedupClustersIncremental: Q = (s, dir) => {
    val edgePath = IndexStore.defaultPath("edges", dir)
    IndexStore.ensureEdgeIndex(t(s, dir, "documents"), edgePath)
    val labelsPath = IndexStore.defaultPath("cclabels", dir)
    IndexStore.ensureClusterLabels(s, edgePath, labelsPath)
    val batch = IndexStore.loadEdgeIndex(s, edgePath)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .filter(pmod(xxhash64(col("doc_a"), col("doc_b")), lit(10)) === 9)
    clustersIncremental(s.read.parquet(labelsPath), batch)
      .orderBy("doc_id")
  }

  /** Gate query for the RESUMABLE flow: the same cluster map as
    * [[dedupClusters]] computed through the parquet-per-round workDir
    * — the min-label propagation is deterministic integer math, so
    * the durable path hash-matches the same recursive-CTE oracle.
    * `breakLease = true` because each gate run is a fresh application
    * and this workDir has exactly one writer by construction — a
    * previous CRASHED gate run's lease must not wedge the gate (its
    * round state is valid resume input either way). */
  val dedupClustersResumable: Q = (s, dir) =>
    canonicalClustersResumable(
      jaccardPairs(shingles(t(s, dir, "documents")), 0.5,
        maxDf = Some(GateMaxDf)),
      IndexStore.defaultPath("ccwork", dir),
      breakLease = true)
      .orderBy("doc_id")

  /** Keep-BEST dedup decision table: instead of the min-id canonical
    * (an arbitrary survivor), pick each cluster's highest-quality
    * member — here token count as the quality proxy, tiebreak lower
    * doc_id — and emit the full decision row (doc, cluster, kept doc,
    * keep flag). This is the production form of near-dup dedup for
    * training corpora: the survivor should be the longest/cleanest
    * copy, not whichever id sorted first.
    *
    * Scale shape: quality is a per-row projection; the per-cluster
    * argmax is ONE map-combined max-of-struct aggregation (no window
    * over members), and both the cluster map and the per-cluster
    * winner table are pair-participant-sized — broadcast joins against
    * the corpus scan. */
  def keepBest(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val membership = docs
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("canonical_id"), col("doc_id")))
    val best = membership.groupBy("cluster_id")
      .agg(max(struct(col("n_tok"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg_id")).as("keep_id"))
    membership.join(broadcast(best), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("keep"))
  }

  /** Gate query: keep-best decisions over the verified 0.5-Jaccard
    * clusters (same LSH pair generation as x_dedup_clusters). */
  val dedupKeepBest: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    keepBest(docs,
      canonicalClusters(minhashLsh(docs.select("doc_id", "text"), 0.5)))
      .orderBy("doc_id")
  }

  // The 64-bit xxhash simhash rows (dedupSimhash/dedupSimhashPairs)
  // are NOT in the gate: xxhash64 is not DuckDB-expressible, so they
  // could only ever be rows-only checks, while their portable 32-bit
  // twins run the IDENTICAL banding + verification shape under a full
  // hash-checked oracle. The 64-bit forms stay the production path
  // (wider signature, fewer collisions) with derived-expectation
  // coverage in DedupSpec.
  /** Cross-document duplicated-span detection (the exact-substring
    * dedup signal of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", at word-8-gram granularity): for
    * every document, the fraction of its 8-token spans that also occur
    * verbatim in at least one OTHER document. Docs with dup_frac near 1
    * are boilerplate/mirrors that survive whole-doc near-dup checks
    * when padded with unique noise.
    *
    * Scale shape: the span table is ~|corpus tokens| rows keyed by
    * span text, and it is EXPLODED EXACTLY ONCE — the (span, doc)
    * aggregation partial-aggregates map-side, a count window over the
    * already-reduced span groups marks cross-doc spans, and one final
    * doc-keyed groupBy folds back to per-document fractions. Three
    * shuffles of strictly shrinking data, no pair space anywhere (the
    * all-pairs formulations of this signal are quadratic; this one is
    * linear in corpus size). A first cut fed three consumers from the
    * raw explode and Spark re-ran it per consumer — 3x the explode and
    * two extra shuffles. At 100 TB, hash the span to a 16-byte digest
    * before the shuffle (same trick as exact dedup) — kept as raw text
    * here so the oracle can reproduce it. */
  def spanCrossdoc(docs: DataFrame): DataFrame = {
    val tokd = graft.core.Fanout.bySize(docs, col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
    val sh = tokd.filter(size(col("ws")) >= 8)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 7),
          i => array_join(slice(col("ws"), i, lit(8)), " "))).as("sh"))
    // one row per (span, doc) with its multiplicity; rows under a span
    // group are distinct docs, so a plain count window = n_docs
    val perDocSpan = sh.groupBy("sh", "doc_id").agg(count(lit(1)).as("n_occ"))
    val nDocs = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val agg = perDocSpan
      .withColumn("n_docs", count(lit(1)).over(nDocs))
      .groupBy("doc_id")
      .agg(sum("n_occ").as("n_shingles"),
        sum(when(col("n_docs") > 1, col("n_occ")).otherwise(0L)).as("n_dup"))
    docs.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_shingles").cast("double")))
      .orderBy("doc_id")
  }

  val dedupSpanCrossdoc: Q = (s, dir) => spanCrossdoc(t(s, dir, "documents"))

  /** Exact-substring scrub — the REMOVAL step [[spanCrossdoc]] only
    * measures (Lee et al. 2022, arXiv:2107.06499: repeated training
    * substrings are removed, not whole docs): every token position
    * covered by an 8-gram span appearing in >= `minDocs` distinct docs
    * is dropped, and the surviving tokens reassemble in order into
    * `clean_text`. A doc that is pure boilerplate comes back empty
    * (n_kept = 0) — data, not a dropped row.
    *
    * Scale shape: span-df is one map-combined groupBy on the span key;
    * only spans that PASS the df filter fan out into covered positions
    * (8 rows each, after the filter — boilerplate mass, not corpus
    * mass); the scrub itself is a left-anti join on (doc, pos) and one
    * per-doc reassembly aggregate. Everything keys on (doc_id, pos) or
    * the span hash — no quadratic stage, no skew beyond the span df
    * distribution itself (a universal span caps at 8 positions per doc
    * occurrence, so fan-out is bounded by corpus token count). */
  def spanScrub(docs: DataFrame, minDocs: Long = 2): DataFrame = {
    val tokd = graft.core.Fanout.bySize(docs, col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ws"))
    val spans = tokd.filter(size(col("ws")) >= 8)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("ws")) - 7),
          i => array_join(slice(col("ws"), i, lit(8)), " "))))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("sh"))
    val dupSpans = spans.select("sh", "doc_id").distinct()
      .groupBy("sh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs).select("sh")
    val bad = spans.join(dupSpans, Seq("sh"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + 7)).as("p"))
      .distinct()
    val toks = tokd.select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("w"))
    val kept = toks.join(bad, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(p, w))), s -> s.w), ' ')")
          .as("clean_text"))
    tokd.select(col("doc_id"), size(col("ws")).cast(LongType).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  val dedupSpanScrub: Q = (s, dir) =>
    spanScrub(t(s, dir, "documents"), 2).orderBy("doc_id")

  /** Self-verifying LSH RECALL gate — the dedup analog of
    * [[Similarity.annRecall]]: the banded-minhash pipeline's found
    * pairs are checked IN-QUERY against the exact prefix-filtered
    * Jaccard join, reduced to (exact pair count, recall >= 0.9). The
    * DedupSpec recall claims ("verified-Jaccard output = all-pairs
    * oracle at full recall on the gate corpora") become
    * driver-hash-checked instead of spec-only: an LSH regression
    * (banding bug, signature drift, band-knee shift) flips the
    * boolean and fails the gate. The oracle computes the exact pair
    * count + TRUE, like every sketch-bound row.
    *
    * The exact join feeds TWO consumers (the semi-join probe and its
    * own count) and Spark re-executes shared subtrees per consumer,
    * so the prefix-filtered join — the row's dominant cost — would
    * run twice without a pin. Pinning the (tiny: pair-id rows only)
    * result and releasing it after both counts matches the
    * canonicalClusters discipline and halves the row's exact-side
    * work; the inner pins at jaccardPairsPrefix:129/:138 bound what a
    * re-execution would redo but not the verify tail itself. */
  val dedupLshRecall: Q = (s, dir) => {
    import s.implicits._
    val docs = t(s, dir, "documents")
    // ONE shingle pin feeds both comparands (the exact prefix join and
    // the LSH pipeline) — the shingle derivation is the row's shared
    // prefix and would otherwise run once per side
    val sh = graft.core.Materialize.pin(shingles(docs))
    val exact = graft.core.Materialize.pin(
      jaccardPairsPrefix(sh, 0.5).select("doc_a", "doc_b"))
    try {
      val found = exact.join(
        minhashLshFromShingles(sh, 0.5).select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_semi")
      val nE = exact.count()
      val nF = found.count()
      Seq((nE, nF * 10L >= nE * 9L)).toDF("n_exact_pairs", "recall_ok")
    } finally {
      if (!graft.core.Materialize.isReliable(s)) {
        org.apache.spark.sql.classic.GraftColumnBridge.unpersistCheckpoint(exact)
        org.apache.spark.sql.classic.GraftColumnBridge.unpersistCheckpoint(sh)
      }
    }
  }

  /** Semantic-dedup RECALL gate — [[dedupLshRecall]]'s pattern applied
    * to the one remaining spec-only recall claim (COVERAGE r13): the
    * SemDeDup cell-scoped pair generation at probes=3 is checked
    * IN-QUERY against the exact all-pairs cosine join and reduced to
    * (exact pair count, recall >= 0.9). Precision needs no gate (every
    * candidate is verified with true cosine — a subset by
    * construction); recall is what clustering SPENDS, so it is the
    * axis a k-means / assignment / multi-probe regression would move.
    * The oracle computes the exact count + TRUE like every
    * sketch-bound row. Writing this gate immediately earned its keep:
    * the r13 COVERAGE claim ("output empirically identical to the
    * exact path on the gate corpora") holds only at sf0.001 — at
    * sf0.01 the measured recall curve is probes=1: 0.44, probes=2:
    * 0.85, probes=3: 1.00 (26/50/59 of 59 exact pairs), i.e. denser
    * corpora really do put near-dup pairs on cell boundaries and the
    * multi-probe knob is what buys them back. The gate runs the
    * probes=3 setting that clears the 0.9 bound with margin at both
    * scale factors, and the curve is recorded here so the cost story
    * stays honest: probes=k multiplies candidate volume by <= k^2/
    * nCentroids-ish, still far from quadratic. */
  val dedupSemanticRecall: Q = (s, dir) => {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val exact = graft.core.Materialize.pin(
      embeddingNearDups(emb, 0.4))
    try {
      val found = exact.join(
        semanticPairs(emb, 0.4, probes = 3)
          .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b")),
        Seq("vec_a", "vec_b"), "left_semi")
      val nE = exact.count()
      val nF = found.count()
      Seq((nE, nF * 10L >= nE * 9L)).toDF("n_exact_pairs", "recall_ok")
    } finally {
      if (!graft.core.Materialize.isReliable(s))
        org.apache.spark.sql.classic.GraftColumnBridge.unpersistCheckpoint(exact)
    }
  }

  val queries: Map[String, Q] = Map(
    "x_dedup_span_crossdoc" -> dedupSpanCrossdoc,
    "x_dedup_span_scrub" -> dedupSpanScrub,
    "x_dedup_incremental" -> dedupIncremental,
    "x_dedup_incremental_indexed" -> dedupIncrementalIndexed,
    "x_dedup_clusters" -> dedupClusters,
    "x_dedup_clusters_incremental" -> dedupClustersIncremental,
    "x_dedup_clusters_resumable" -> dedupClustersResumable,
    "x_dedup_keep_best" -> dedupKeepBest,
    "x_dedup_exact" -> dedupExact,
    "x_dedup_ngram_jaccard" -> dedupNgramJaccard,
    "x_dedup_jaccard_prefix" -> dedupJaccardPrefix,
    "x_dedup_containment" -> dedupContainment,
    "x_dedup_minhash_lsh" -> dedupMinhashLsh,
    "x_dedup_lsh_recall" -> dedupLshRecall,
    "x_dedup_semantic_recall" -> dedupSemanticRecall,
    "x_dedup_simhash_pairs_portable" -> dedupSimhashPairsPortable,
    "x_dedup_embedding" -> dedupEmbedding)

  val oracles: Map[String, String] = Map(
    "x_dedup_span_scrub" ->
      ("WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr FROM documents), " +
        "p AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr)-7)) AS i FROM d WHERE len(arr) >= 8), " +
        "s AS (SELECT doc_id, i, array_to_string(arr[i:i+7], ' ') AS sh FROM p), " +
        "dup AS (SELECT sh FROM s GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2), " +
        "bad AS (SELECT DISTINCT doc_id, pos FROM " +
        "(SELECT doc_id, unnest(generate_series(i, i+7)) AS pos FROM s JOIN dup USING (sh))), " +
        "tok AS (SELECT doc_id, pos, arr[pos] AS w FROM " +
        "(SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS pos FROM d)), " +
        "kept AS (SELECT tok.doc_id, tok.pos, w FROM tok LEFT JOIN bad " +
        "ON tok.doc_id = bad.doc_id AND tok.pos = bad.pos WHERE bad.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, " +
        "array_to_string(list(w ORDER BY pos), ' ') AS clean_text FROM kept GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(len(arr) AS BIGINT) AS n_tokens, " +
        "COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_text, '') AS clean_text " +
        "FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id ORDER BY d.doc_id"),
    "x_dedup_span_crossdoc" ->
      ("WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr FROM documents), " +
        "p AS (SELECT doc_id, arr, unnest(generate_series(1, len(arr)-7)) AS i FROM d WHERE len(arr) >= 8), " +
        "s AS (SELECT doc_id, array_to_string(arr[i:i+7], ' ') AS sh FROM p), " +
        "dup AS (SELECT sh FROM s GROUP BY sh HAVING COUNT(DISTINCT doc_id) > 1), " +
        "tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM s GROUP BY doc_id), " +
        "dd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup FROM s WHERE sh IN (SELECT sh FROM dup) GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(COALESCE(tot.n_shingles, 0) AS BIGINT) AS n_shingles, " +
        "CAST(COALESCE(dd.n_dup, 0) AS BIGINT) AS n_dup, " +
        "CASE WHEN COALESCE(tot.n_shingles, 0) = 0 THEN 0.0 " +
        "ELSE CAST(COALESCE(dd.n_dup, 0) AS DOUBLE) / CAST(tot.n_shingles AS DOUBLE) END AS dup_frac " +
        "FROM d LEFT JOIN tot USING (doc_id) LEFT JOIN dd USING (doc_id) ORDER BY doc_id"),
    "x_dedup_embedding" ->
      ("SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM embeddings a, embeddings b " +
        "WHERE a.vec_id < b.vec_id AND " +
        "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4 " +
        "ORDER BY vec_a, vec_b"),
    "x_dedup_exact" ->
      "SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY md5(text) ORDER BY text_hash",
    // The LSH path verifies candidates with EXACT Jaccard, so given
    // full recall its output equals the all-pairs form — same oracle.
    // Recall is deterministic (xxhash64 banding) and confirmed locally
    // at sf0.001 and sf0.01: every true pair >= 0.5 shares a band
    // (near-dups in this corpus sit well above the threshold, where
    // miss probability (1-j^4)^8 is < 1e-3).
    "x_dedup_minhash_lsh" -> ngramJaccardOracle,
    "x_dedup_ngram_jaccard" -> ngramJaccardOracle,
    "x_dedup_jaccard_prefix" -> ngramJaccardOracle,
    "x_dedup_lsh_recall" ->
      ("WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM w, unnest(range(1, len(ws)-1)) AS u(i) WHERE len(ws) >= 3), " +
        "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id), " +
        "com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
        "p AS (SELECT doc_a, doc_b FROM com JOIN cnt ca ON com.doc_a = ca.doc_id JOIN cnt cb ON com.doc_b = cb.doc_id " +
        "WHERE common / (ca.n_sh + cb.n_sh - common) >= 0.5) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok FROM p"),
    "x_dedup_semantic_recall" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok " +
        "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id AND " +
        "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4"),
    "x_dedup_containment" ->
      ("WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM w, unnest(range(1, len(ws)-1)) AS u(i) WHERE len(ws) >= 3), " +
        "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id), " +
        "com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) " +
        "SELECT doc_a, doc_b, common / LEAST(ca.n_sh, cb.n_sh) AS containment FROM com JOIN cnt ca ON com.doc_a = ca.doc_id JOIN cnt cb ON com.doc_b = cb.doc_id " +
        "WHERE common / LEAST(ca.n_sh, cb.n_sh) >= 0.8 ORDER BY doc_a, doc_b"),
    // exact by construction: the maxHamming+1-band pigeonhole
    // guarantees recall, verification is exact bit_count — so the
    // banded output EQUALS the all-pairs form the oracle computes
    "x_dedup_simhash_pairs_portable" ->
      (TextAnalysis.simhash32SqlCtes +
        s", sg AS (SELECT doc_id, ${TextAnalysis.simhash32SqlExpr} AS sig FROM s) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming " +
        "FROM sg a JOIN sg b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.sig, b.sig)) <= 1 ORDER BY doc_a, doc_b"),
    // same full-recall-LSH argument as x_dedup_minhash_lsh, restricted
    // to the new-batch x corpus pair space; the indexed variant runs
    // the identical bands + verification from the parquet artifact, so
    // it shares the oracle
    "x_dedup_incremental" -> incrementalOracle,
    "x_dedup_incremental_indexed" -> incrementalOracle,
    "x_dedup_clusters" -> clustersOracle,
    "x_dedup_clusters_incremental" -> clustersOracle,
    // durable-path twin: identical deterministic cluster map
    "x_dedup_clusters_resumable" -> clustersOracle,
    "x_dedup_keep_best" ->
      ("WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM w, unnest(range(1, len(ws)-1)) AS u(i) WHERE len(ws) >= 3), " +
        "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id), " +
        "com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
        "pairs AS (SELECT doc_a, doc_b FROM com JOIN cnt ca ON com.doc_a = ca.doc_id JOIN cnt cb ON com.doc_b = cb.doc_id " +
        "WHERE common / (ca.n_sh + cb.n_sh - common) >= 0.5), " +
        "ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs), " +
        "nodes AS (SELECT DISTINCT src AS n FROM ed), " +
        "reach(a, b) AS (SELECT n, n FROM nodes UNION SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src), " +
        "cl AS (SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a), " +
        "m AS (SELECT d.doc_id, COALESCE(cl.canonical_id, d.doc_id) AS cluster_id, " +
        "CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT) AS n_tok FROM documents d LEFT JOIN cl USING (doc_id)), " +
        "b AS (SELECT cluster_id, doc_id AS keep_id FROM " +
        "(SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id ORDER BY n_tok DESC, doc_id) AS rk FROM m) WHERE rk = 1) " +
        "SELECT m.doc_id, m.cluster_id, b.keep_id, m.doc_id = b.keep_id AS keep " +
        "FROM m JOIN b USING (cluster_id) ORDER BY m.doc_id"))

  /** Recursive-CTE transitive closure of the verified 0.5-Jaccard
    * pairs — shared by the in-memory and resumable cluster gates. */
  private lazy val clustersOracle: String =
    ("WITH RECURSIVE w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM w, unnest(range(1, len(ws)-1)) AS u(i) WHERE len(ws) >= 3), " +
      "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id), " +
      "com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id), " +
      "pairs AS (SELECT doc_a, doc_b FROM com JOIN cnt ca ON com.doc_a = ca.doc_id JOIN cnt cb ON com.doc_b = cb.doc_id " +
      "WHERE common / (ca.n_sh + cb.n_sh - common) >= 0.5), " +
      "ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs), " +
      "nodes AS (SELECT DISTINCT src AS n FROM ed), " +
      "reach(a, b) AS (SELECT n, n FROM nodes UNION SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src) " +
      "SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a ORDER BY doc_id")

  private lazy val incrementalOracle: String =
    ("WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM w, unnest(range(1, len(ws)-1)) AS u(i) WHERE len(ws) >= 3), " +
      "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id), " +
      "com AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, CAST(COUNT(*) AS BIGINT) AS common " +
      "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < 10 AND b.doc_id >= 10 GROUP BY a.doc_id, b.doc_id) " +
      "SELECT new_id, corpus_id, common / (ca.n_sh + cb.n_sh - common) AS jaccard " +
      "FROM com JOIN cnt ca ON com.new_id = ca.doc_id JOIN cnt cb ON com.corpus_id = cb.doc_id " +
      "WHERE common / (ca.n_sh + cb.n_sh - common) >= 0.5 ORDER BY new_id, corpus_id")

  private lazy val ngramJaccardOracle: String =
      ("WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM w, unnest(range(1, len(ws)-1)) AS u(i) WHERE len(ws) >= 3), " +
        "cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id), " +
        "com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id) " +
        "SELECT doc_a, doc_b, common / (ca.n_sh + cb.n_sh - common) AS jaccard FROM com JOIN cnt ca ON com.doc_a = ca.doc_id JOIN cnt cb ON com.doc_b = cb.doc_id " +
        "WHERE common / (ca.n_sh + cb.n_sh - common) >= 0.5 ORDER BY doc_a, doc_b")
}
