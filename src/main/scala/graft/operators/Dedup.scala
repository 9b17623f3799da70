package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication family (SURVEY §2 C1-C4 + A6).
  *
  * Scale design: exact dedup and MinHash-LSH are the 100 TB paths — both
  * are single-shuffle (hash of text / band bucket). The exact all-pairs
  * jaccard operator is the small-scale oracle / verification path; at
  * scale you run [[minhashLsh]], whose candidate set is proportional to
  * the number of true near-dups, then verify candidates exactly.
  * Signatures are computed with explode + narrow codegen'd hash
  * aggregates (map-side partial min/sum) — no UDFs, no interpreted
  * lambdas in the hot path.
  */
object Dedup {

  /** doc_id + distinct word-trigram array (docs with <3 tokens drop out).
    * Shingling runs in one codegen'd pass per document
    * ([[graft.functions.Trigrams]]); the null-on-short-doc contract makes
    * the <3-token filter a plain IsNotNull that pushes into the scan.
    */
  def withTrigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.exprs.trigrams(col("text")).as("grams"))
      .filter(col("grams").isNotNull)

  /** Gram-set groups (grams, rep = min doc_id, sorted members) — the
    * exact-dup collapse the whole n-gram family runs on, built in TWO
    * levels so neither shuffle carries gram arrays for duplicated
    * content:
    *   1. identical TEXT collapses on an md5 digest (the first shuffle
    *      moves (digest, doc_id) rows; the map-side partial keeps ONE
    *      text per digest per task, so even the text column's shuffle
    *      volume is ∝ distinct texts per task, not corpus rows);
    *   2. the gram-set grouping — whose array payload IS the corpus —
    *      then runs over text representatives only.
    * Output-preserving vs the one-level `groupBy(grams)`: identical text
    * ⟹ identical gram set, so text groups nest inside gram-set groups
    * and the flattened member union is the same set (spec-pinned on a
    * cliqued corpus). On a replication-heavy corpus (sf100: 5M docs,
    * ~5k distinct texts) this turns a full-corpus array shuffle into a
    * digest shuffle + a distinct-content array shuffle; shingling CPU
    * drops by the same replication factor.
    */
  private[graft] def gramSetGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("dig"))
      .agg(min("doc_id").as("trep"), first("text").as("txt"),
        collect_list(col("doc_id")).as("tmembers"))
      .select(col("trep"), col("tmembers"),
        graft.functions.exprs.trigrams(col("txt")).as("grams"))
      .filter(col("grams").isNotNull)
      .groupBy("grams")
      .agg(min("trep").as("rep"),
        sort_array(flatten(collect_list(col("tmembers")))).as("members"))

  /** C1: exact dedup via content hash; deterministic keeper = min doc_id. */
  def exactDocs(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("content_md5"))
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keep_id"))

  /** C29: n-gram containment near-dup — |A∩B| / min(|A|,|B|). Jaccard
    * misses subset duplication (a paragraph quoted inside a much longer
    * document scores low because the union is big); containment scores
    * the overlap against the SMALLER gram set, which is exactly the
    * excerpt/quote case a curation run needs to catch. Same inverted-index
    * join shape (and stop-gram cap) as [[ngramJaccard]], including its
    * `maxDocFreq` semantics: gram document frequency counts
    * distinct-gram-set REPRESENTATIVES (exact copies don't vote a gram
    * hot) and identity pairs bypass stop-gram removal; exact-oracle
    * output only with `maxDocFreq = None`.
    */
  def ngramContainment(docs: DataFrame, tau: Double,
      maxDocFreq: Option[Int] = None): DataFrame = {
    // same exact-dup collapse as [[ngramJaccard]] (identical gram sets
    // contain each other fully — containment 1.0 exactly — and a
    // representative pair's containment transfers to every member pair)
    val groups = gramSetGroups(docs).localCheckpoint()
    val identity = groups.filter(size(col("members")) >= 2)
      .select(size(col("grams")).cast("bigint").as("n"),
        explode(col("members")).as("d1"), col("members"))
      .select(col("d1"), explode(col("members")).as("d2"), col("n"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("n").as("inter"),
        col("n").as("n1"), col("n").as("n2"), lit(1.0).as("containment"))
      .filter(lit(1.0) >= tau)
    val reps = groups.select(col("rep").as("doc_id"), col("grams"))
    val gAll = reps.select(col("doc_id"), explode(col("grams")).as("g"))
    val g = maxDocFreq.fold(gAll) { cap =>
      val hot = gAll.groupBy("g").count().filter(col("count") > cap)
        .select("g")
      gAll.join(broadcast(hot), Seq("g"), "left_anti")
    }
    val sizes =
      reps.select(col("doc_id"), size(col("grams")).cast("bigint").as("n"))
    val repPairs = g.as("a")
      .join(g.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("n", "n2"), "d2")
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("n1"), col("n2")).cast("double"))
      .filter(col("containment") >= tau)
    val memb = groups.select(col("rep"), col("members"))
    val cross = repPairs
      .join(memb.withColumnRenamed("rep", "d1")
        .withColumnRenamed("members", "m1"), "d1")
      .join(memb.withColumnRenamed("rep", "d2")
        .withColumnRenamed("members", "m2"), "d2")
      .select(explode(col("m1")).as("a"), col("m2"), col("inter"),
        col("n1"), col("n2"), col("containment"))
      .select(col("a"), explode(col("m2")).as("b"), col("inter"),
        col("n1"), col("n2"), col("containment"))
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"), col("inter"),
        when(col("a") < col("b"), col("n1")).otherwise(col("n2")).as("n1"),
        when(col("a") < col("b"), col("n2")).otherwise(col("n1")).as("n2"),
        col("containment"))
    identity.unionByName(cross)
  }

  /** C25: incremental ingest dedup — a new batch against an existing
    * corpus. A Bloom filter over the corpus's content hashes
    * (`bloom_filter_agg`, shipped to executors as a scalar subquery)
    * pre-filters the batch: rows the filter has never seen are provably
    * new and skip the join entirely; only maybe-dups (true dups + rare
    * false positives) anti-join the corpus for exact confirmation. At
    * 100 TB the filter is a few MB broadcast while the join side shrinks
    * from the whole batch to the near-duplicate sliver — the standard
    * "don't re-shuffle the corpus every ingest" pattern.
    */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
      expectedItems: Long = 1000000L, numBits: Long = 8000000L): DataFrame = {
    graft.plans.GraftExtensions.register(newBatch.sparkSession)
    val view = s"graft_incr_corpus_${viewCounter.incrementAndGet()}"
    corpus.select(col("text")).createOrReplaceTempView(view)
    val seen = expr(
      s"graft_might_contain((SELECT graft_bloom_agg(xxhash64(text), " +
        s"CAST($expectedItems AS BIGINT), CAST($numBits AS BIGINT)) " +
        s"FROM $view), xxhash64(text))")
    val definitelyNew = newBatch.filter(!seen)
    val confirmed = newBatch.filter(seen)
      .join(corpus.select(col("text")).distinct(), Seq("text"), "left_anti")
    definitelyNew.unionByName(confirmed)
      .select(col("doc_id"), col("source"))
  }

  private val viewCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** C26: corpus snapshot diff — added/removed/changed/unchanged between
    * two versions of a document set (dataset-versioning audit before a
    * training run ships). Bodies never shuffle: each side reduces to
    * (doc_id, md5) map-side, the full-outer join moves 16-byte digests.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("old_md5"))
    val n = newDocs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("new_md5"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") =!= col("new_md5"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** C4: exact n-gram Jaccard near-dup pairs (gram-explode self-join).
    * The inverted-index join keys on the gram, so common grams fan out —
    * at scale cap gram document-frequency (stop-gram removal) or use
    * [[minhashLsh]]; this operator is the exactness baseline.
    *
    * EXACT-DUP COLLAPSE FIRST (the same move as the hyperplane-LSH
    * path, and for the same measured reason): identical trigram SETS
    * join in every shared gram, so a group of k copies fans out
    * k²·|grams| intermediate rows before the pair aggregate — at
    * sf1.0, where every document carries 10 exact copies, the
    * uncollapsed join OOM'd an 8 GB heap under harness concurrency.
    * The quadratic join therefore runs on ONE representative per
    * distinct gram set; identical-set members pair directly at
    * jac = 1.0 exactly (inter = n1 = n2 = |grams|), and each
    * surviving representative pair expands to its member pairs with
    * the SAME inter/n/jac (Jaccard only reads the gram sets, which
    * are equal by construction). With `maxDocFreq = None` (the
    * default) output is bit-identical to the uncollapsed formulation —
    * the DuckDB oracle is unchanged — while join cost scales with
    * DISTINCT content, the way exact-dedup-then-near-dup composes in
    * a real curation pipeline.
    *
    * With `maxDocFreq` SET the collapse changes the approximation's
    * semantics versus the pre-collapse operator (both are documented
    * approximations, not the exact oracle): gram document frequency is
    * counted over distinct-gram-set REPRESENTATIVES, so a gram hot
    * only because of exact copies no longer trips the cap; and
    * identity pairs (jac = 1.0) bypass stop-gram removal entirely.
    * Both shifts are deliberate — exact copies shouldn't vote a gram
    * into the stop list, and identical documents are dups no matter
    * which grams are hot. [[ngramContainment]] inherits the same
    * representative-df semantics through the shared collapse.
    */
  def ngramJaccard(
      docs: DataFrame, tau: Double, maxDocFreq: Option[Int] = None,
      maxPairs: Option[Long] = None, expand: Boolean = true): DataFrame = {
    val groups = gramSetGroups(docs)
      .localCheckpoint() // identity pairs, the rep join and the member
                         // expansion all read it
    // identical gram sets: every (a < b) inside one group, jac exactly 1
    val identity = groups.filter(size(col("members")) >= 2)
      .select(size(col("grams")).cast("bigint").as("n"),
        explode(col("members")).as("d1"), col("members"))
      .select(col("d1"), explode(col("members")).as("d2"), col("n"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("n").as("inter"),
        col("n").as("n1"), col("n").as("n2"), lit(1.0).as("jac"))
      .filter(lit(1.0) >= tau)
    val reps = groups.select(col("rep").as("doc_id"), col("grams"))
    val gAll = reps.select(col("doc_id"), explode(col("grams")).as("g"))
    // stop-gram removal: drop grams shared by more than maxDocFreq
    // representatives — they contribute little to Jaccard but quadratic
    // join fan-out; this bounds inverted-index skew at scale
    // (approximation documented)
    val g = maxDocFreq.fold(gAll) { cap =>
      val hot = gAll.groupBy("g").count().filter(col("count") > cap)
        .select("g")
      gAll.join(broadcast(hot), Seq("g"), "left_anti")
    }
    // Circuit breaker: the inverted-index join fans out Σ_g df·(df−1)/2
    // rows — quadratic in per-gram representative frequency. The
    // estimate is one cheap gram-count aggregate; past the cap the
    // operator REFUSES loudly (with the actual number and the two
    // escape hatches) instead of grinding into an OOM four stages
    // later. Like maxDocFreq this is opt-in: None preserves the
    // exact-oracle default.
    maxPairs.foreach { cap =>
      val est = g.groupBy("g").count()
        .agg(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L)))
        .first().getLong(0)
      require(est <= cap,
        s"ngramJaccard: estimated inverted-index pair fan-out $est exceeds " +
          s"maxPairs=$cap; cap gram document frequency (maxDocFreq) or use " +
          "minhashLsh for candidate generation at this scale")
    }
    val sizes =
      reps.select(col("doc_id"), size(col("grams")).cast("bigint").as("n"))
    val inter = g.as("a")
      .join(g.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .withColumn("jac",
        col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"))
      .filter(col("jac") >= tau)
    if (!expand) {
      // THE 100 TB OUTPUT (same contract as Similarity's
      // hyperplaneLshPairs expand = false): one row per REPRESENTATIVE
      // pair with member lists, never the C(k,2)/k1·k2 clique
      // expansion — on a replication-heavy corpus the expanded pair
      // list is quadratic in clique size while this is linear in
      // distinct content. Identity cliques emit r1 = r2 at jac 1.0;
      // canonicalizeRep consumes this shape directly (label
      // propagation over reps, membership join at the end), so the
      // whole dedup report path runs without materializing pairs.
      val identityRep = groups.filter(size(col("members")) >= 2)
        .filter(lit(1.0 >= tau))
        .select(col("rep").as("r1"), col("rep").as("r2"),
          size(col("grams")).cast("bigint").as("inter"),
          size(col("grams")).cast("bigint").as("n1"),
          size(col("grams")).cast("bigint").as("n2"),
          lit(1.0).as("jac"), col("members").as("m1"),
          col("members").as("m2"))
      val membR = groups.select(col("rep"), col("members"))
      val crossRep = repPairs
        .join(membR.withColumnRenamed("rep", "d1")
          .withColumnRenamed("members", "m1"), "d1")
        .join(membR.withColumnRenamed("rep", "d2")
          .withColumnRenamed("members", "m2"), "d2")
        .select(col("d1").as("r1"), col("d2").as("r2"), col("inter"),
          col("n1"), col("n2"), col("jac"), col("m1"), col("m2"))
      return identityRep.unionByName(crossRep)
    }
    // expand representative pairs to member pairs (groups are disjoint;
    // least/greatest restores the d1 < d2 normal form, n1/n2 follow)
    val memb = groups.select(col("rep"), col("members"))
    val cross = repPairs
      .join(memb.withColumnRenamed("rep", "d1")
        .withColumnRenamed("members", "m1"), "d1")
      .join(memb.withColumnRenamed("rep", "d2")
        .withColumnRenamed("members", "m2"), "d2")
      .select(explode(col("m1")).as("a"), col("m2"), col("inter"),
        col("n1"), col("n2"), col("jac"))
      .select(col("a"), explode(col("m2")).as("b"), col("inter"),
        col("n1"), col("n2"), col("jac"))
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"), col("inter"),
        when(col("a") < col("b"), col("n1")).otherwise(col("n2")).as("n1"),
        when(col("a") < col("b"), col("n2")).otherwise(col("n1")).as("n2"),
        col("jac"))
    identity.unionByName(cross)
  }

  /** C2: MinHash + LSH near-dup detection.
    * numHashes signatures from the seeded xxhash64 family, banded into
    * `bands` groups; docs colliding in any band become candidates, which
    * are then verified with exact Jaccard (array_intersect on the gram
    * sets). False negatives are the usual LSH probability; no false
    * positives survive verification.
    *
    * Exact-dup collapse (round 7): signatures are a pure function of the
    * gram set, so identical texts always collide in EVERY band — banding
    * them individually only manufactures C(k,2) candidate rows per
    * k-clique of copies. Shingling, signatures, band join and
    * verification therefore all run over [[gramSetGroups]]
    * representatives (cost ∝ distinct content); exact-copy cliques
    * re-enter as identity pairs at jac 1.0 and verified rep pairs expand
    * through the member lists. Output with `expand = true` (default) is
    * the same pair set the uncollapsed formulation produced: a member
    * pair collides iff its rep pair collides (equal signatures) and its
    * verified jac equals the rep pair's (equal gram sets).
    *
    * `expand = false` is the 100 TB output (same contract as
    * [[ngramJaccard]] / hyperplane): one row per representative pair
    * (r1, r2, jac, m1, m2), identity cliques at r1 = r2 — never the
    * clique expansion. [[canonicalizeRep]] and the rep-fed reports
    * consume it directly.
    */
  /** Standard S-curve banding plan (Leskovec/Rajaraman/Ullman MMDS
    * §3.4.3 — the same optimizer public MinHashLSH libraries ship):
    * among the factorizations b·r = numHashes, minimize
    * `fpWeight·∫₀^τ p(s) ds + fnWeight·∫_τ^1 (1 − p(s)) ds` where
    * `p(s) = 1 − (1 − s^r)^b` is the any-band collision probability of
    * a pair at Jaccard s. Returns (bands, rowsPerBand).
    *
    * At τ = 0.5, numHashes = 64 the optimum is (16, 4) — the curve's
    * inflection `(1/b)^(1/r)` sits exactly on the threshold — which is
    * also the historical hand-tuned default, so every committed output
    * is unchanged; other thresholds now get a properly tuned curve
    * (e.g. τ = 0.7 → (8, 8), τ = 0.3 → (32, 2)) instead of a fixed
    * one. Deterministic: pure arithmetic, first minimum wins. */
  def lshPlan(tau: Double, numHashes: Int = 64,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): (Int, Int) = {
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    def cost(b: Int, r: Int): Double = {
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r), b)
      val n = 1000
      def integ(lo: Double, hi: Double)(f: Double => Double) = {
        val h = (hi - lo) / n
        (0 until n).iterator.map(i => f(lo + h * (i + 0.5))).sum * h
      }
      fpWeight * integ(0, tau)(p) + fnWeight * integ(tau, 1)(s => 1 - p(s))
    }
    (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
      .minBy { case (b, r) => cost(b, r) }
  }

  def minhashLsh(
      docs: DataFrame, tau: Double,
      numHashes: Int = 64, bands: Int = 0,
      expand: Boolean = true): DataFrame = {
    // bands = 0 (default) derives the banding from the threshold via
    // the S-curve plan instead of trusting a fixed split to suit every
    // tau; an explicit bands value is honored verbatim
    val effBands = if (bands > 0) bands else lshPlan(tau, numHashes)._1
    require(numHashes % effBands == 0)
    val rows = numHashes / effBands
    val groups = gramSetGroups(docs)
      .localCheckpoint() // identity pairs, signatures, verification and
                         // the member expansion all read it
    val repGrams = groups.select(col("rep"), col("grams"))
    // Signature via a one-pass custom aggregate ([[graft.functions.
    // MinHashAgg]]): each gram is hashed once (codegen'd xxhash64) and the
    // 64 family minima are folded inside the aggregate update. Three
    // other formulations were measured and rejected: higher-order-function
    // lambdas run interpreted (~10x); a single 64-function min() aggregate
    // exceeds the generated-method budget and falls back to interpreted
    // eval (~5x); explode(sequence(0,63)) blows every gram row up 64x
    // before the partial aggregate — the map-side combine contains the
    // shuffle but not the CPU. The imperative aggregate keeps the row
    // count at |grams| and ships one 64-long buffer per rep per map task.
    val g = repGrams.select(col("rep"), explode(col("grams")).as("g"))
      .select(col("rep"), expr("xxhash64(g)").as("h0"))
    val sigs = g.groupBy("rep")
      .agg(graft.functions.MinHashAgg.minhash(col("h0"), numHashes).as("sig"))
    // band b's key = hash of its signature slice; one row per (rep, band)
    val banded = sigs
      .select(col("rep"), col("sig"),
        explode(expr(s"sequence(0, ${effBands - 1})")).as("band"))
      .select(col("rep"), col("band"),
        expr(s"xxhash64(band, slice(sig, band * $rows + 1, $rows))").as("bh"))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("r1"), col("b.rep").as("r2"))
      .distinct()
    val verified = candidates
      .join(repGrams.select(col("rep").as("r1"), col("grams").as("ga")), "r1")
      .join(repGrams.select(col("rep").as("r2"), col("grams").as("gb")), "r2")
      .withColumn("jac",
        size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))).cast("double"))
      .filter(col("jac") >= tau)
      .select(col("r1"), col("r2"), col("jac"))
    val memb = groups.select(col("rep"), col("members"))
    val repPairs = verified
      .join(memb.withColumnRenamed("rep", "r1")
        .withColumnRenamed("members", "m1"), "r1")
      .join(memb.withColumnRenamed("rep", "r2")
        .withColumnRenamed("members", "m2"), "r2")
      .select(col("r1"), col("r2"), col("jac"), col("m1"), col("m2"))
    val identityRep = groups.filter(size(col("members")) >= 2)
      .filter(lit(1.0) >= tau)
      .select(col("rep").as("r1"), col("rep").as("r2"),
        lit(1.0).as("jac"), col("members").as("m1"),
        col("members").as("m2"))
    if (!expand) return identityRep.unionByName(repPairs)
    // identical gram sets: every (a < b) inside one clique, jac exactly 1
    val identity = groups.filter(size(col("members")) >= 2)
      .select(explode(col("members")).as("d1"), col("members"))
      .select(col("d1"), explode(col("members")).as("d2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(1.0).as("jac"))
      .filter(col("jac") >= tau)
    val cross = repPairs
      .select(explode(col("m1")).as("a"), col("m2"), col("jac"))
      .select(col("a"), explode(col("m2")).as("b"), col("jac"))
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"), col("jac"))
    identity.unionByName(cross)
  }

  /** C38: duplicate provenance — where a corpus's duplicated content
    * comes from: per source, how many of its documents share a head
    * digest (first `headTokens` tokens — the "same article, different
    * boilerplate tail" crawler signature) with a document in the SAME
    * source vs across sources. Within-source dups point at a re-fetch
    * bug; cross-source dups at mirror sites — different remediations.
    * Digests shuffle, not bodies; the duplicate-group table is tiny
    * (only content with >1 copy) and re-joins key-aligned.
    */
  def dupProvenance(docs: DataFrame, headTokens: Int = 16): DataFrame = {
    val d = docs.select(col("doc_id"), col("source"),
      md5(concat_ws(" ",
        expr(s"slice(split(text, ' '), 1, $headTokens)"))).as("dig"))
    val groups = d.groupBy("dig")
      .agg(count(lit(1)).as("copies"),
        countDistinct("source").as("n_sources"))
      .filter(col("copies") > 1)
    d.join(groups, "dig")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_dup_docs"),
        count(when(col("n_sources") === 1, 1)).as("n_within_source"),
        count(when(col("n_sources") > 1, 1)).as("n_cross_source"))
  }

  /** C34: repeated-span detection — overlapping w-token shingle digests
    * counted corpus-wide, reported as a per-doc shared-span fraction.
    * Where [[graft.operators.TextAnalysis.boilerplateChunks]] hashes
    * FIXED, non-overlapping chunks (cheap, alignment-sensitive), this
    * slides a window at every token offset, so a duplicated span is
    * caught at ANY alignment — the exact-substring-dedup signal (suffix-
    * array style results, hash-join cost model). Row blowup is |tokens|
    * per doc; only (doc_id, digest) pairs shuffle, never text.
    *
    * Skew: a corpus-wide boilerplate span (header in most docs) makes one
    * digest a hot key in the tag-back join. Digests in more than
    * `maxDocFreq` docs are split off — they are DEFINITELY shared
    * (n_docs > 1), so their windows are tagged map-side against the tiny
    * broadcast hot set and never shuffle; the residual join's per-key
    * fan-in is bounded by the cap. Results are identical for any cap ≥ 1
    * (same `shared_frac`), only the join shape changes.
    */
  /** C43: boilerplate STRIP — the curation action the detectors (C27
    * boilerplateChunks, C34 repeatedSpans) feed: the corpus is cut into
    * aligned `segLen`-token segments, segments whose exact digest
    * appears in more than `maxDocFreq` distinct documents are dropped
    * corpus-wide (headers/footers/licence blocks), and each document is
    * reassembled from its surviving segments in original order. Output
    * keeps the kept/dropped counts so the rewrite is auditable.
    *
    * Scale: one explode to (doc, seg) rows, one digest-keyed aggregate
    * for document frequency (map-side partials), one join back on the
    * digest, and one per-doc aggregate whose order-restoring sort is
    * over that document's segments only (array_sort on the collected
    * handful, never a global window). Only digests shuffle in the
    * frequency pass, never segment text. */
  def stripSharedSegments(docs: DataFrame, segLen: Int = 3,
      maxDocFreq: Int = 1): DataFrame = {
    require(segLen >= 1 && maxDocFreq >= 1)
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(expr(
          s"sequence(0, (size(toks) + ${segLen - 1}) div $segLen - 1)"))
          .as("i"),
        col("toks"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ", expr(s"slice(toks, i * $segLen + 1, $segLen)"))
          .as("seg"))
    val freq = segs.groupBy(md5(col("seg").cast("binary")).as("h"))
      .agg(countDistinct("doc_id").as("nd"))
    segs
      .join(freq, md5(col("seg").cast("binary")) === col("h"))
      .groupBy("doc_id")
      .agg(
        array_join(expr("transform(array_sort(collect_list(" +
          s"case when nd <= $maxDocFreq then struct(i, seg) end)), " +
          "p -> p.seg)"), " ").as("text"),
        count(when(col("nd") <= maxDocFreq, 1)).as("n_kept"),
        count(when(col("nd") > maxDocFreq, 1)).as("n_dropped"))
  }

  def repeatedSpans(docs: DataFrame, w: Int = 8,
      maxDocFreq: Int = 1000): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val wins = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        (size(col("toks")) - (w - 1)).as("nw"))
      .filter(col("nw") >= 1)
      .select(col("doc_id"),
        explode(expr("sequence(1, nw)")).as("i"), col("toks"))
      .select(col("doc_id"),
        md5(concat_ws(" ", expr(s"slice(toks, i, $w)"))).as("dig"))
      .localCheckpoint() // the digest-frequency aggregate and the hot
                         // tag-back both read it — unmaterialized, each
                         // consumer re-ran the scan + tokenize + explode
                         // + per-window md5 pipeline
    val spanDocs = wins.groupBy("dig")
      .agg(countDistinct("doc_id").as("n_docs"))
    // hot digests: in > maxDocFreq docs — few by construction (at most
    // |window rows| / maxDocFreq), so the set broadcasts
    val hot = spanDocs.filter(col("n_docs") > maxDocFreq)
      .select(col("dig"), lit(true).as("hot"))
    val tagged = wins.join(broadcast(hot), Seq("dig"), "left")
    val hotShared = tagged.filter(col("hot"))
      .select(col("doc_id"), lit(true).as("shared"))
    val coldShared = tagged.filter(col("hot").isNull)
      .select("doc_id", "dig")
      .join(spanDocs.filter(col("n_docs") <= maxDocFreq), "dig")
      .select(col("doc_id"), (col("n_docs") > 1).as("shared"))
    hotShared.unionByName(coldShared)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("shared"), 1)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_windows").cast("double"))
  }

  /** C74: winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS algorithm). Character `k`-gram hashes are
    * sampled by the robust-winnowing rule — in every window of `w`
    * consecutive hashes keep the minimum, rightmost occurrence on ties
    * — giving each document a fingerprint set with the paper's
    * guarantee: any shared substring of length ≥ k + w − 1 yields at
    * least one shared fingerprint, at expected density 2/(w+1). Where
    * [[repeatedSpans]] reports a per-doc shared-window fraction over
    * EVERY token window and [[ngramJaccard]] compares whole-document
    * gram sets, this is the sampled cross-doc OVERLAP detector: pairs
    * of documents sharing ≥ `minShared` fingerprints, scored by
    * shared / min(|fp₁|, |fp₂|) in exact parts-per-million.
    *
    * Fingerprints come from the compiled `graft_winnow_fps` kernel
    * ([[graft.functions.TextOps.winnowFps]]), one pass per document: it
    * md5-hashes every k-gram, then for each window of `w` positions
    * scans right-to-left and replaces the candidate only on a strictly
    * smaller digest, so the rightmost minimum wins ties. A position
    * selected by consecutive windows is emitted once, and the distinct
    * hex digests come back sorted. Round11OpsSpec pins the kernel
    * against the DataFrame window formulation it replaced.
    *
    * Scale shape: identical texts collapse to a representative FIRST
    * (one md5 group-by), so fingerprinting and the pair join cost ∝
    * distinct content and the pair list is replication-invariant —
    * exact copies are C1/exact-dedup's job, not this operator's. The
    * per-position explode is linear in distinct-corpus characters; the
    * only window function partitions by doc (bounded rows per
    * partition). Fingerprints in more than `maxDocFreq` reps are
    * boilerplate, definitionally shared, and dropped via a broadcast
    * hot set before the inverted-index join, bounding per-key fan-out
    * exactly like [[ngramJaccard]]'s stop-gram cap.
    */
  def winnowedOverlap(docs: DataFrame, k: Int = 12, w: Int = 4,
      minShared: Int = 2, maxDocFreq: Int = 1000): DataFrame = {
    require(k >= 1 && w >= 1 && minShared >= 1 && maxDocFreq >= 1)
    val reps = docs
      .groupBy(md5(col("text").cast("binary")).as("ht"))
      .agg(min("doc_id").as("doc_id"), first("text").as("text"))
    // pre-partition by doc BEFORE the fingerprint kernel: the kernel
    // does the per-character work (one md5 per position) inside one
    // expression, and AQE sizes stages by map INPUT — the doc table is
    // tiny next to the per-character hashing it feeds, so without the
    // explicit exchange the whole corpus would hash in a handful of
    // tasks (the washPairs map-INPUT-sizing lesson). The fingerprint
    // count window downstream reuses the same clustering.
    val nPart = math.max(32,
      docs.sparkSession.sessionState.conf.numShufflePartitions)
    // One compiled pass per document (graft_winnow_fps) replaces the
    // former per-character posexplode + md5 column + w-row window
    // struct-min + global distinct: the kernel emits the distinct
    // selected digests directly (hex order ≡ raw-digest unsigned order,
    // so the rolling min compares 16 bytes and hex-encodes only
    // winners). Byte-equivalent by construction — pinned by the
    // kernel-vs-DataFrame spec and the hash oracle.
    val fps = reps
      .filter(length(col("text")) >= k + w - 1)
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.exprs.winnow_fps(col("text"), k, w))
          .as("fp"))
      .localCheckpoint() // hot-set build, both inverted-index join sides
                         // and the per-doc size aggregate all read it —
                         // unmaterialized, each consumer re-ran the
                         // scan + collapse + explode + window pipeline
    val hot = fps.groupBy("fp").count()
      .filter(col("count") > maxDocFreq).select("fp")
    // per-doc fingerprint count attached BEFORE the inverted-index join
    // (a whole-partition window over the checkpoint's existing
    // hash(doc_id) clustering — no exchange), so n1/n2 ride the fp
    // exchange as two longs per row instead of re-shuffling the pair
    // set twice for post-aggregation size joins
    val g = fps.join(broadcast(hot), Seq("fp"), "left_anti")
      .withColumn("nfp", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    g.as("a")
      .join(g.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"),
        min(col("a.nfp")).as("n1"), min(col("b.nfp")).as("n2"))
      .filter(col("shared") >= minShared)
      .select(col("d1"), col("d2"), col("shared"), col("n1"), col("n2"),
        expr("shared * 1000000 div least(n1, n2)").as("sim_ppm"))
  }

  /** C78: dedup threshold calibration curve — the knee-finding
    * dashboard a curator reads BEFORE committing a dedup pass: for
    * each candidate similarity threshold (sim_ppm deciles 1..9), how
    * many cross-doc pairs and how many distinct documents a pass at
    * that threshold would touch. Built over [[winnowedOverlap]]'s
    * rep-level pair report, so the whole curve inherits its
    * replication invariance (cost ∝ distinct content, sweepable at
    * every scale — unlike a curve over the expanded n-gram pair
    * lists). Docs-affected counts each rep's MAX pair similarity once
    * — the quantity a keeper-vs-removed decision actually thresholds.
    *
    * Shape: the pair report materializes once and feeds both counts;
    * each count is NINE CONDITIONAL SUMS in one aggregate pass (a
    * threshold-table join would broadcast the pair side on the
    * outer-join's build side — the conditional sums are join-free and
    * map-side partial), then one `stack` unpivot of the two 1-row
    * frames into the 9-row curve. */
  def dedupThresholdCurve(docs: DataFrame, minShared: Int = 2)
      : DataFrame = {
    val taus = (1 to 9).map(i => i * 100000L)
    val wp = winnowedOverlap(docs, minShared = minShared)
      .localCheckpoint() // feeds the pair AND the doc-max consumers
    def curve(df: DataFrame, v: String, pfx: String) =
      df.agg(
        sum(when(col(v) >= taus.head, 1L).otherwise(0L))
          .as(s"$pfx${taus.head}"),
        taus.tail.map(t =>
          sum(when(col(v) >= t, 1L).otherwise(0L)).as(s"$pfx$t")): _*)
    val pc = curve(wp, "sim_ppm", "p")
    val dc = curve(
      wp.select(col("d1").as("doc"), col("sim_ppm"))
        .union(wp.select(col("d2").as("doc"), col("sim_ppm")))
        .groupBy("doc").agg(max("sim_ppm").as("m")),
      "m", "d")
    pc.crossJoin(dc).selectExpr(
      s"stack(9, ${taus.map(t =>
        s"cast($t as bigint), p$t, d$t").mkString(", ")}) " +
        "as (tau, n_pairs, n_docs_affected)")
  }

  /** Canonicalization: collapse near-dup pairs into clusters and pick one
    * keeper per cluster (min doc_id). Iterative min-label propagation to a
    * FIXED POINT — each round is one shuffle join; iteration stops when a
    * round changes no label (a changed-label count observed inside the
    * round's own checkpoint job — no second probe job per round), so
    * clusters of any graph diameter fully converge —
    * matching the recursive-CTE transitive closure the oracle computes.
    * `maxIterations` is only a runaway backstop (label propagation on a
    * connected component of n nodes converges in <= n rounds).
    */
  def canonicalize(pairs: DataFrame, maxIterations: Int = 64,
      broadcastNodeLimit: Long = GraphOps.DefaultBroadcastNodeLimit)
      : DataFrame = {
    // Iterative algorithm: truncate lineage each round (eager local
    // checkpoint by default; spark.graft.reliableCheckpoint=true swaps
    // in executor-loss-safe reliable checkpoints — Checkpoints.scala)
    // — otherwise every iteration re-derives the whole upstream
    // pair pipeline and plan size grows combinatorially.
    // keyed on `a` once at build: every round's min-label aggregate
    // groups by `a`, and the broadcast-regime neighbor join is
    // map-side, so hash(a) makes each propagation round a single
    // exchange-free stage (guide §2.4); the shuffle-join fallback
    // re-keys on `b` per round exactly as before. Partition COUNT is
    // AQE's (bare repartition(col) is coalescible): a round's work is
    // proportional to the edge table itself — no downstream explosion —
    // so byte-proportional sizing replaces the former max(32, conf)
    // constant (32 near-empty tasks per round on pair-sized state at
    // bench scale; see GraphOps.keyed).
    val edges = Checkpoints.truncate(
      pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
        .repartition(col("a")))
    // label state is node-sized (two ids per row): when the graph is
    // small enough, broadcast it into the per-round joins so a round
    // never re-shuffles the edge list — same policy as the GraphOps
    // iteration loops; past the limit fall back to shuffle joins. The
    // node count rides the checkpoint's own materialization job
    // (Checkpoints.truncateObserved), not a second job.
    val (labels0, nNodes) = Checkpoints.truncateObserved(
      edges.select(col("a").as("doc_id"))
        .union(edges.select(col("b").as("doc_id"))).distinct()
        .withColumn("label", col("doc_id")),
      count(lit(1)))
    var labels = labels0
    val bcast = nNodes <= broadcastNodeLimit
    var converged = false
    var round = 0
    while (!converged && round < maxIterations) {
      val viaNeighbor = edges
        .join({
          val r = labels.withColumnRenamed("doc_id", "b2")
          if (bcast) broadcast(r) else r
        }, col("b") === col("b2"))
        .groupBy(col("a").as("doc_id"))
        .agg(min("label").as("nlabel"))
      // the convergence probe rides the checkpoint's materialization
      // job (one job per round instead of materialize + probe), and
      // the prev column is dropped BEFORE the checkpoint so the stored
      // label state is one column narrower
      val (next, changed) = Checkpoints.truncateObserved(
        labels.join(
            if (bcast) broadcast(viaNeighbor) else viaNeighbor,
            Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nlabel"), col("label")))
              .as("label")),
        count(when(col("label") =!= col("prev"), lit(1))),
        drop = Seq("prev"))
      converged = changed == 0
      labels = next
      round += 1
    }
    labels.withColumnRenamed("label", "keep_id")
  }

  /** C70: quality-aware canonicalization — [[canonicalize]] keeps the
    * MIN doc_id per near-dup cluster, which is the right DETERMINISM
    * anchor but not what curation wants: the kept copy should be the
    * BEST one (boilerplate-stripped mirrors, OCR rescans and truncated
    * copies all share a cluster with their clean original). Cluster
    * identity stays [[canonicalize]]'s min-label fixed point (so the
    * cluster algebra is comparable across both operators); the keeper
    * is the cluster argmax of the grid-fixed quality score
    * ([[TextAnalysis.qualityScore6]], q6 desc / doc_id asc — exact
    * integer ordering both engines share). Output: every clustered doc
    * with its cluster id, its own q6, the chosen keeper, and an
    * `is_keeper` flag.
    *
    * Shape (100 TB): label propagation is pair-sized; the quality join
    * is doc-keyed; the argmax is ONE keyed `max_by` over exact
    * integers — no windows, no cluster-sized fan-out. The labeled set
    * is materialized once (argmax + detail join both read it). */
  def canonicalizeByQuality(docs: DataFrame, pairs: DataFrame,
      maxIterations: Int = 64,
      broadcastNodeLimit: Long = GraphOps.DefaultBroadcastNodeLimit)
      : DataFrame =
    qualityKeepers(docs,
      canonicalize(pairs, maxIterations, broadcastNodeLimit))

  /** C70 on the REP-LEVEL pair contract: cluster labels come from
    * [[canonicalizeRep]] (bit-identical to [[canonicalize]] over the
    * expanded pair list — spec-pinned), then the same doc-keyed quality
    * argmax. Shares [[canonicalizeByQuality]]'s oracle SQL; cost ∝
    * distinct content, never the expanded pair count — the at-scale
    * form the sf10/sf100 sidecars verify. */
  def canonicalizeByQualityRep(docs: DataFrame, repPairs: DataFrame,
      maxIterations: Int = 64,
      broadcastNodeLimit: Long = GraphOps.DefaultBroadcastNodeLimit)
      : DataFrame =
    qualityKeepers(docs,
      canonicalizeRep(repPairs, maxIterations, broadcastNodeLimit))

  /** Shared keeper pass: cluster argmax of the grid-fixed quality score
    * (q6 desc / doc_id asc — exact integer ordering both engines
    * share) via ONE keyed `max_by`; no windows, no cluster fan-out. */
  private def qualityKeepers(
      docs: DataFrame, labels: DataFrame): DataFrame = {
    val lq = labels.join(TextAnalysis.qualityScore6(docs), "doc_id")
      .localCheckpoint()
    val best = lq.groupBy("keep_id")
      .agg(max_by(col("doc_id"),
        struct(col("q6"), (-col("doc_id")).as("nd"))).as("keeper_id"))
    lq.join(best, "keep_id")
      .select(col("doc_id"), col("keep_id").as("cluster_id"),
        col("q6"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"))
  }

  /** C13d: canonicalization over REP-LEVEL pairs ([[ngramJaccard]] /
    * hyperplane expand = false) — bit-identical labels to
    * [[canonicalize]] over the expanded pair list (spec-pinned), at
    * cost ∝ DISTINCT content instead of ∝ Σ C(kᵢ,2). Why it's exact:
    * each rep is the MIN doc_id of its clique, so the min label of a
    * rep component IS the min doc_id of the expanded component; a
    * member's keeper is therefore its rep's component label, and a
    * clique with no cross pair keeps its own rep. Label propagation
    * runs on the rep graph (sf100: 2k nodes vs 2M nodes / 11.3e9
    * edges expanded); membership joins back in one exchange.
    */
  def canonicalizeRep(repPairs: DataFrame, maxIterations: Int = 64,
      broadcastNodeLimit: Long = GraphOps.DefaultBroadcastNodeLimit)
      : DataFrame = {
    val rp = repPairs.localCheckpoint() // label prop + membership both read it
    val membership = rp
      .select(col("r1").as("rep"), explode(col("m1")).as("doc_id"))
      .union(rp.select(col("r2").as("rep"), explode(col("m2")).as("doc_id")))
      .distinct()
    val repLabels = canonicalize(
      rp.filter(col("r1") =!= col("r2"))
        .select(col("r1").as("d1"), col("r2").as("d2")),
      maxIterations, broadcastNodeLimit)
      .withColumnRenamed("doc_id", "rep")
    membership.join(repLabels, Seq("rep"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("keep_id"), col("rep")).as("keep_id"))
  }

  /** C13d: [[dedupedCorpus]] on the rep-level pair contract — same
    * keeper set (shares the oracle SQL), but exact dedup + near-dup
    * canonicalization both run without ever materializing the
    * expanded pair list. The 100 TB form of the shipping pipeline. */
  def dedupedCorpusRep(docs: DataFrame, tau: Double = 0.5,
      repPairs: Option[DataFrame] = None): DataFrame = {
    val keepExact = exactDocs(docs).select(col("keep_id").as("doc_id"))
    val nonKeepers = canonicalizeRep(
        repPairs.getOrElse(ngramJaccard(docs, tau, expand = false)))
      .filter(col("keep_id") =!= col("doc_id")).select("doc_id")
    keepExact.join(nonKeepers, Seq("doc_id"), "left_anti")
  }

  /** C13e: [[clusterSizes]] on the rep-level pair contract — identical
    * distribution (shares the oracle SQL) without the expansion. */
  def clusterSizesRep(docs: DataFrame, tau: Double = 0.5,
      repPairs: Option[DataFrame] = None): DataFrame =
    canonicalizeRep(
        repPairs.getOrElse(ngramJaccard(docs, tau, expand = false)))
      .groupBy("keep_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** C13c: near-dup cluster-size distribution — how much of the corpus
    * sits in duplicate clusters of each size (the audit that decides
    * whether near-dup removal is worth its cost, and catches pathological
    * mega-clusters from boilerplate before they eat the keeper pass).
    * Composes the canonicalization labels; singletons (docs in no pair)
    * are excluded — they never entered the pair graph.
    */
  def clusterSizes(docs: DataFrame, tau: Double = 0.5,
      pairs: Option[DataFrame] = None): DataFrame =
    canonicalize(pairs.getOrElse(ngramJaccard(docs, tau)))
      .groupBy("keep_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** The 100 TB candidate-pair source for the composing reports
    * ([[clusterSizes]], [[dedupedCorpus]], [[splitLeakage]],
    * [[effectiveTokens]]): MinHash-LSH candidates (cost ∝ true
    * near-dups), projected to the (d1, d2) shape the exact
    * [[ngramJaccard]] default emits. Candidates are exact-verified
    * inside minhashLsh, so the only divergence from the exact pair set
    * is LSH false negatives — the documented recall trade every
    * at-scale dedup makes. */
  def lshPairs(docs: DataFrame, tau: Double = 0.5,
      numHashes: Int = 64, bands: Int = 0): DataFrame =
    minhashLsh(docs, tau, numHashes, bands).select("d1", "d2")

  /** C7g/C2 composed: the rep-level LSH candidate source — what
    * [[lshPairs]] is to [[splitLeakage]]/[[effectiveTokens]], this is to
    * their Rep twins. One row per representative pair with member lists
    * (identity cliques at r1 = r2), never the clique expansion: on a
    * replication-heavy corpus the expanded LSH pair list is quadratic in
    * clique size while this stays ∝ distinct content + true near-dups —
    * the shape that survives 100 TB. */
  def lshPairsRep(docs: DataFrame, tau: Double = 0.5,
      numHashes: Int = 64, bands: Int = 0): DataFrame =
    minhashLsh(docs, tau, numHashes, bands, expand = false)
      .select("r1", "r2", "m1", "m2")

  /** C65: soft-dedup sampling weights — keep every document but
    * DOWN-WEIGHT it by its near-dup multiplicity: weight = 1/c where c
    * is the size of the doc's transitive near-dup cluster (singletons
    * c = 1). The alternative to hard removal ([[dedupedCorpus]]) when
    * duplicated content should still contribute — one cluster-worth of
    * probability mass total — rather than vanish; an epoch over the
    * weighted corpus sees each distinct content unit once in
    * expectation regardless of how many copies shipped.
    *
    * Composes the rep-level label propagation ([[canonicalizeRep]]),
    * so cost stays ∝ distinct content; the weight join moves
    * (doc_id, cluster_size) ids only. The per-doc `weight` column is
    * the IEEE division of two exact integers (deterministic), but a
    * SUM of such weights is order-dependent — so the oracled surface
    * is the exact integer (source, cluster_size, n_docs) histogram
    * and effective mass Σ n_docs/c derives from it in one pass. */
  def softDedupWeights(docs: DataFrame, tau: Double = 0.5,
      repPairs: Option[DataFrame] = None): DataFrame = {
    val labels = canonicalizeRep(
      repPairs.getOrElse(ngramJaccard(docs, tau, expand = false)))
    val csize = labels.groupBy("keep_id")
      .agg(count(lit(1)).as("cluster_size"))
    val withC = labels.join(csize, "keep_id")
      .select("doc_id", "cluster_size")
    docs.select(col("doc_id"), col("source"))
      .join(withC, Seq("doc_id"), "left_outer")
      .withColumn("cluster_size",
        coalesce(col("cluster_size"), lit(1L)))
      .withColumn("weight", lit(1.0) / col("cluster_size"))
  }

  /** C65's oracled surface: the per-source multiplicity histogram —
    * how many of each source's docs sit in near-dup clusters of each
    * size. Integer-exact, engine-portable; the source's effective doc
    * mass under soft dedup is Σ n_docs / cluster_size. */
  def sourceMultiplicity(docs: DataFrame, tau: Double = 0.5,
      repPairs: Option[DataFrame] = None): DataFrame =
    softDedupWeights(docs, tau, repPairs)
      .groupBy("source", "cluster_size")
      .agg(count(lit(1)).as("n_docs"))

  /** C13b: the end-to-end dedup pipeline a training-data run would ship —
    * the corpus surviving BOTH exact dedup (one keeper per
    * identical-content group) and near-dup canonicalization (one keeper
    * per transitive near-dup cluster). Composes the single-shuffle exact
    * pass with the pair+label-propagation pipeline; the final anti-join
    * streams (no extra shuffle beyond its key exchange).
    */
  def dedupedCorpus(docs: DataFrame, tau: Double = 0.5,
      pairs: Option[DataFrame] = None): DataFrame = {
    val keepExact = exactDocs(docs).select(col("keep_id").as("doc_id"))
    val nonKeepers = canonicalize(pairs.getOrElse(ngramJaccard(docs, tau)))
      .filter(col("keep_id") =!= col("doc_id")).select("doc_id")
    keepExact.join(nonKeepers, Seq("doc_id"), "left_anti")
  }

  /** C63: cross-source duplication flow — the near-dup pair graph
    * aggregated to the source level: how many near-dup pairs live
    * inside each source and between each source pair (C20's
    * dupProvenance counts EXACT head-digest copies; this is its
    * near-dup sibling over the verified pair set — the "who mirrors
    * whom" matrix that decides which feed gets de-prioritized).
    * Candidate-pair source injectable like the other composing
    * reports: exact C4 by default, [[lshPairs]] at scale.
    *
    * Shape: the pair pipeline bounds everything; past it, two joins
    * that move (doc_id, source) pairs only and one keyed aggregate
    * over a sources²-bounded result. */
  def crossSourceDupFlow(docs: DataFrame, tau: Double = 0.5,
      pairs: Option[DataFrame] = None): DataFrame = {
    val p = pairs.getOrElse(ngramJaccard(docs, tau)).select("d1", "d2")
    val src = docs.select(col("doc_id"), col("source"))
    p.join(src.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("source", "s1"), "d1")
      .join(src.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("source", "s2"), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** C31: decontaminated corpus materialization — C23's flags applied:
    * documents whose benchmark trigram overlap reaches `tau` are removed
    * and the survivors flow on (the filter step a training pipeline
    * actually ships, not just the report). The hit list is doc ids only,
    * so the anti-join shuffles keys — document bodies stay put and the
    * output carries a digest, not the text.
    */
  def decontaminatedCorpus(docs: DataFrame, bench: DataFrame,
      tau: Double = 0.5): DataFrame =
    docs.join(
      contamination(docs, bench, tau)
        .filter(col("contaminated")).select("doc_id"),
      Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"),
        md5(col("text")).as("text_md5"))

  /** C23: benchmark decontamination — flag training documents that share
    * word trigrams with a benchmark/eval set (the pre-training hygiene
    * check that keeps eval data out of the corpus). The benchmark gram
    * set is tiny relative to the corpus → broadcast inverted index; the
    * corpus side explodes its grams exactly once and aggregates with
    * map-side partials, so the only wide shuffle is the per-doc count.
    */
  def contamination(docs: DataFrame, bench: DataFrame,
      tau: Double = 0.5): DataFrame = {
    val corpusG = withTrigrams(docs)
      .select(col("doc_id"), size(col("grams")).cast("bigint").as("n_grams"),
        explode(col("grams")).as("g"))
    val benchG = withTrigrams(bench)
      .select(explode(col("grams")).as("g")).distinct()
    corpusG.join(broadcast(benchG), "g")
      .groupBy("doc_id")
      .agg(max("n_grams").as("n_grams"), count(lit(1)).as("n_hits"))
      .withColumn("contam_frac",
        col("n_hits").cast("double") / col("n_grams").cast("double"))
      .withColumn("contaminated", col("contam_frac") >= tau)
  }

  /** C3: 64-bit SimHash near-dup detection. The fingerprint is built
    * per-row from token hashes; candidate pairs collide on one of four
    * 16-bit bands, then are kept if total Hamming distance <= maxHamming.
    */
  def simhash(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // Whole 64-bit fingerprint in one codegen'd pass per document
    // ([[graft.functions.SimHashBands]]) — byte-identical band values to
    // the exploded per-(token, bit) formulation this replaces, which
    // needed a |tokens| * 64 row blowup and two shuffles to reassemble.
    // The 4 16-bit bands also pack into ONE long, so the hamming
    // distance is a single codegen'd bit_count(xor) — the previous
    // aggregate(zip_with(...)) lambda pair ran INTERPRETED per join row
    // and, pushed into the band join's bound condition, burned 56 CPU
    // minutes in one task at sf10 before this rewrite.
    val fps = docs.select(col("doc_id"),
      graft.functions.exprs.simhash_bands(col("text")).as("bands"))
      .withColumn("fp", expr(
        "shiftleft(cast(bands[0] as bigint), 48) | " +
          "shiftleft(cast(bands[1] as bigint), 32) | " +
          "shiftleft(cast(bands[2] as bigint), 16) | " +
          "cast(bands[3] as bigint)"))
    // EXACT-FINGERPRINT COLLAPSE (the same measured move as the n-gram
    // and hyperplane paths): identical fingerprints collide in EVERY
    // band, so a group of k copies fanned out 4·C(k,2) band-join rows
    // before dedup — the sf10 corpus carries 100 copies per distinct
    // text. Banding runs on one representative per distinct
    // fingerprint; same-fingerprint members pair directly at hamming 0
    // (fp is a bijection of the band array, so identical fp ⟺
    // identical bands ⟺ hamming 0), and surviving representative
    // pairs expand back to member pairs with the representative's
    // hamming (members share their representative's fingerprint).
    // Output is identical to the uncollapsed formulation — spec-pinned.
    val groups = fps.groupBy("fp", "bands")
      .agg(min("doc_id").as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .localCheckpoint()
    val identity = groups.filter(size(col("members")) >= 2)
      .select(explode(col("members")).as("d1"), col("members"))
      .select(col("d1"), explode(col("members")).as("d2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(0).as("hamming"))
    val banded = groups.select(col("rep"), col("fp"),
      posexplode(col("bands")).as(Seq("band", "bv")))
    val repPairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("r1"), col("b.rep").as("r2"),
        col("a.fp").as("f1"), col("b.fp").as("f2"))
      .distinct()
      .withColumn("hamming",
        expr("cast(bit_count(f1 ^ f2) as int)"))
      .filter(col("hamming") <= maxHamming)
    val memb = groups.select(col("rep"), col("members"))
    val cross = repPairs
      .join(memb.withColumnRenamed("rep", "r1")
        .withColumnRenamed("members", "m1"), "r1")
      .join(memb.withColumnRenamed("rep", "r2")
        .withColumnRenamed("members", "m2"), "r2")
      .select(explode(col("m1")).as("a"), col("m2"), col("hamming"))
      .select(col("a"), explode(col("m2")).as("b"), col("hamming"))
      .select(least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"), col("hamming"))
    identity.unionByName(cross)
  }

  /** C57: near-dup split-leakage audit + heal — THE classic eval bug:
    * [[graft.operators.Sampling.hashSplit]] assigns splits per document,
    * so two near-duplicates can land in train AND test and the eval
    * silently scores memorization. This operator finds every near-dup
    * cluster (the [[canonicalize]] transitive closure over
    * [[ngramJaccard]] pairs) whose members straddle ≥2 splits, and emits
    * those documents with the HEALED assignment — the whole cluster
    * takes its canonical (lowest-id) member's split, the deterministic
    * repair a pipeline can apply idempotently. Split buckets reuse
    * hashSplit's exact md5 arithmetic, so audit and split can never
    * drift.
    *
    * Shape: the pair+label-propagation pipeline bounds everything (see
    * canonicalize); past it, one cluster-count-sized distinct-split
    * aggregate (leaky ids broadcast back), and the healed split arrives
    * by joining the cluster id against the same md5 expression evaluated
    * on the canonical id — a projection, not another corpus join.
    * `pairs` injects the candidate-pair source: default is the exact
    * [[ngramJaccard]] (the oracle path); at 100 TB pass [[lshPairs]] so
    * the report rides the LSH candidate pipeline instead of the
    * quadratic inverted-index join. */
  def splitLeakage(docs: DataFrame, tau: Double = 0.5,
      trainBuckets: Int = 204, valBuckets: Int = 26,
      pairs: Option[DataFrame] = None): DataFrame =
    splitReport(canonicalize(pairs.getOrElse(ngramJaccard(docs, tau))),
      trainBuckets, valBuckets)

  /** C57 on the rep-level pair contract — same report (shares the
    * oracle SQL): labels come from [[canonicalizeRep]], so the audit
    * runs without ever materializing the expanded pair list. Feed
    * `repPairs` with [[lshPairsRep]] at 100 TB. */
  def splitLeakageRep(docs: DataFrame, tau: Double = 0.5,
      trainBuckets: Int = 204, valBuckets: Int = 26,
      repPairs: Option[DataFrame] = None): DataFrame =
    splitReport(
      canonicalizeRep(
        repPairs.getOrElse(ngramJaccard(docs, tau, expand = false))),
      trainBuckets, valBuckets)

  private def splitReport(labels: DataFrame, trainBuckets: Int,
      valBuckets: Int): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) = {
      val bucket = conv(substring(md5(concat(lit("split"),
        c.cast("string")).cast("binary")), 1, 2), 16, 10).cast("int")
      when(bucket < trainBuckets, "train")
        .when(bucket < trainBuckets + valBuckets, "val")
        .otherwise("test")
    }
    val member = labels
      .select(col("doc_id"), col("keep_id").as("cluster"),
        splitOf(col("doc_id")).as("split"))
      .localCheckpoint() // paired-doc sized; aggregated + filtered below
    val leaky = member.groupBy("cluster")
      .agg(countDistinct("split").as("n_splits"))
      .filter(col("n_splits") > 1)
    member.join(broadcast(leaky), "cluster")
      .select(col("cluster"), col("doc_id"), col("split"),
        splitOf(col("cluster")).as("healed_split"), col("n_splits"))
  }

  /** C58: effective-token accounting after dedup — the epoch-inflation
    * report a training run reads before setting its data mix: per
    * source, raw docs/tokens vs the docs/tokens surviving BOTH exact
    * dedup and near-dup canonicalization ([[dedupedCorpus]]'s survivor
    * set), and the inflation factor raw/kept — how many times the
    * average surviving token would be replayed per epoch if the corpus
    * shipped undeduped. Token counts are integers end to end; the one
    * division is the final double.
    *
    * Shape: the survivor set is doc ids only (the dedupedCorpus
    * pipeline bounds the cost); token counts come from one codegen'd
    * `size(split(..))` scan — the text itself is never shuffled, the
    * (doc_id, source, n_tokens) triples are. Two keyed aggregates. */
  def effectiveTokens(docs: DataFrame, tau: Double = 0.5,
      pairs: Option[DataFrame] = None): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .localCheckpoint() // raw totals AND the survivor join read it
    val kept = dedupedCorpus(docs, tau, pairs)
    val raw = toks.groupBy("source")
      .agg(count(lit(1)).as("raw_docs"), sum("n_tokens").as("raw_tokens"))
    val k = toks.join(kept, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"),
        sum("n_tokens").as("kept_tokens"))
    raw.join(k, Seq("source"))
      .select(col("source"), col("raw_docs"), col("raw_tokens"),
        col("kept_docs"), col("kept_tokens"),
        (col("raw_tokens").cast("double") /
          col("kept_tokens").cast("double")).as("inflation"))
  }

  /** C58 on the rep-level pair contract — same report (shares the
    * oracle SQL): the survivor set comes from [[dedupedCorpusRep]], so
    * epoch-inflation accounting runs without the expanded pair list.
    * Feed `repPairs` with [[lshPairsRep]] at 100 TB. */
  def effectiveTokensRep(docs: DataFrame, tau: Double = 0.5,
      repPairs: Option[DataFrame] = None): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .localCheckpoint() // raw totals AND the survivor join read it
    val kept = dedupedCorpusRep(docs, tau, repPairs)
    val raw = toks.groupBy("source")
      .agg(count(lit(1)).as("raw_docs"), sum("n_tokens").as("raw_tokens"))
    val k = toks.join(kept, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"),
        sum("n_tokens").as("kept_tokens"))
    raw.join(k, Seq("source"))
      .select(col("source"), col("raw_docs"), col("raw_tokens"),
        col("kept_docs"), col("kept_tokens"),
        (col("raw_tokens").cast("double") /
          col("kept_tokens").cast("double")).as("inflation"))
  }

  /** C63 on the rep-level pair contract — same source-pair matrix
    * (shares the oracle SQL) computed by COUNTING instead of
    * expanding: memberships explode to (rep, doc) rows — linear in
    * docs, never in pairs — reduce to per-(rep, source) counts, and
    * the expanded pair total per source pair is recovered exactly as
    *   cross rep pairs:  Σ c1(s_a) · c2(s_b)   (cliques are disjoint)
    *   identity cliques: C(c(s), 2) within a source,
    *                     c(s_a) · c(s_b) across sources.
    * Groups that would sum to zero are filtered — the expanded
    * operator never emits a zero-pair source pair. */
  def crossSourceDupFlowRep(docs: DataFrame, tau: Double = 0.5,
      repPairs: Option[DataFrame] = None): DataFrame = {
    val rp = repPairs
      .getOrElse(ngramJaccard(docs, tau, expand = false))
      .localCheckpoint() // memberships, cross and identity all read it
    val src = docs.select(col("doc_id"), col("source"))
    val mcount = rp
      .select(col("r1").as("rep"), explode(col("m1")).as("doc_id"))
      .union(rp.select(col("r2").as("rep"), explode(col("m2")).as("doc_id")))
      .distinct()
      .join(src, "doc_id")
      .groupBy("rep", "source").agg(count(lit(1)).as("c"))
      .localCheckpoint() // cross joins twice + identity self-join
    val cross = rp.filter(col("r1") =!= col("r2"))
      .select(col("r1"), col("r2"))
      .join(mcount.withColumnRenamed("rep", "r1")
        .withColumnRenamed("source", "s1").withColumnRenamed("c", "c1"), "r1")
      .join(mcount.withColumnRenamed("rep", "r2")
        .withColumnRenamed("source", "s2").withColumnRenamed("c", "c2"), "r2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"),
        (col("c1") * col("c2")).as("n"))
    val idCounts = rp.filter(col("r1") === col("r2"))
      .select(col("r1").as("rep")).distinct()
      .join(mcount, "rep")
    val idSame = idCounts.select(col("source").as("source_a"),
      col("source").as("source_b"),
      expr("c * (c - 1) div 2").as("n"))
    val idCross = idCounts.as("x")
      .join(idCounts.as("y"),
        col("x.rep") === col("y.rep") && col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        (col("x.c") * col("y.c")).as("n"))
    cross.unionByName(idSame).unionByName(idCross)
      .groupBy("source_a", "source_b")
      .agg(sum("n").as("n_pairs"))
      .filter(col("n_pairs") > 0)
  }
}
