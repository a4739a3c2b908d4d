package graft.ops

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.GateProps
import graft.functions.{graft_minhash, graft_simhash}

/** Deduplication operators for a large-scale training-data pipeline, over a
  * `documents`-shaped table (`doc_id`, `text`, ...).
  *
  * Scale notes:
  *   - exact dedup is a hash shuffle on the text digest — never on the full
  *     text (a sha256 groupBy key is 32 B regardless of document size);
  *   - MinHash-LSH generates candidates from band buckets (one explode +
  *     one self-join per band bucket, quadratic ONLY within a bucket), then
  *     verifies candidates with exact shingle-set Jaccard — brute-force
  *     all-pairs never happens;
  *   - SimHash candidates come from 16-bit band collisions, verified by
  *     Hamming distance on the 64-bit sketches (bit_count(a XOR b));
  *   - sketches are native Catalyst expressions (MinHashSig / SimHash64),
  *     inside whole-stage codegen, not UDFs.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ------------------------------------------------- persist lifecycle
  //
  // minHashLsh and jaccardPairs persist their shingle frames (three
  // consumers each — lineage recompute measured +33% on the round-2
  // bench). The results are LAZY, so the operators cannot unpersist
  // eagerly, and Spark's CacheManager holds strong references: without an
  // explicit release, every call leaks a cached relation for the session's
  // lifetime. Callers that materialize results (pipelines, benchmarks,
  // threshold sweeps) should call [[releaseCaches]] afterwards —
  // [[Pipeline.cleanAndEncode]] does. LRU block eviction still bounds the
  // MEMORY share either way; the disk share is only reclaimed here.

  private val persistedFrames = new ConcurrentLinkedQueue[DataFrame]()

  private def trackedPersist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    persistedFrames.add(df)
    df
  }

  /** Unpersist every frame a Dedup operator persisted since the last
    * release. Call after the operator results are MATERIALIZED (count /
    * write / collect) — released frames recompute from lineage if re-used.
    * Returns the number of frames released.
    */
  def releaseCaches(blocking: Boolean = false): Int = {
    var n = 0
    var df = persistedFrames.poll()
    while (df != null) {
      df.unpersist(blocking)
      n += 1
      df = persistedFrames.poll()
    }
    n
  }

  // ------------------------------------------- cap-skip observability
  //
  // The degenerate-group caps (maxBucket / maxPrefixBucket) skip flooded
  // groups, trading recall ON THOSE GROUPS for a bounded self-join. The
  // skip must never be silent: each capped operator observes (flooded
  // group count, largest group) in-plan, and a QueryExecutionListener
  // logs a warning + records the count when any group was skipped.
  // [[capSkips]] holds the most recent per-operator counts for callers
  // that want the number programmatically.
  //
  // Known edge (measured): when EVERY group is capped, the result is
  // empty and AQE's empty-relation propagation replaces the executed
  // subtree with a LocalTableScan — the CollectMetrics node is then
  // unreachable from the final plan and the warning is lost. In that case
  // the zero-row RESULT is itself the signal; in every partial-flood case
  // (the realistic one) the metric survives and the warning fires.

  /** Most recent flooded-group count per operator ("minhash", "jaccard",
    * "simhash", "embed"), updated when an action completes on a plan that
    * skipped at least one capped group.
    */
  val capSkips = new ConcurrentHashMap[String, Long]()

  private val capSeq = new AtomicLong()
  private val capSessions =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private def ensureCapListener(spark: SparkSession): Unit =
    capSessions.synchronized {
      if (capSessions.add(spark))
        spark.listenerManager.register(new QueryExecutionListener {
          override def onSuccess(
              funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft_caps_")) {
                val op = name.stripPrefix("graft_caps_").replaceAll("_\\d+$", "")
                val skipped = row.getAs[Long]("skipped_groups")
                if (skipped > 0) {
                  capSkips.put(op, skipped)
                  log.warn(
                    s"graft $op dedup: $skipped candidate group(s) exceeded " +
                      s"the size cap and were SKIPPED (largest group: " +
                      s"${row.getAs[Long]("largest_group")} rows) — recall is " +
                      "reduced on those groups; run Dedup.exact first or " +
                      "raise the cap")
                }
              }
            }
          override def onFailure(
              funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        })
    }

  /** Attach the flooded-group metric to a (group → size) frame. */
  private def observeCaps(
      sized: DataFrame, op: String, sizeCol: String, cap: Int): DataFrame = {
    ensureCapListener(sized.sparkSession)
    sized.observe(s"graft_caps_${op}_${capSeq.incrementAndGet()}",
      sum(when(col(sizeCol) > cap, 1L).otherwise(0L)).as("skipped_groups"),
      coalesce(max(col(sizeCol)), lit(0L)).as("largest_group"))
  }

  /** Word k-gram shingle set of a text column (distinct, order-free).
    * Native codegen'd expression — the HOF formulation
    * (array_distinct∘transform∘slice∘split) re-evaluated split(text)
    * inside the lambda per element (no CSE across lambda boundaries),
    * i.e. O(words²) per document; element-equal output, one pass.
    */
  def shingles(text: Column, k: Int = 3): Column =
    org.apache.spark.sql.GraftSql.column(graft.expr.WordShingles(
      org.apache.spark.sql.GraftSql.expression(text), k))

  /** Whether doc id `a` orders before `b` numerically: by length, then
    * lexicographically — the one order every pair output follows
    * (`doc_a` before `doc_b`).
    */
  private def idBefore(a: Column, b: Column): Column =
    length(a) < length(b) || (length(a) === length(b) && a < b)

  /** Exact duplicates via content digest: `is_dup` marks every row after
    * the first (by doc_id order) with the same text.
    */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("grp"))
    val order = Window.partitionBy(col("grp"))
      .orderBy(length(col("doc_id")), col("doc_id"))
    docs
      .withColumn("grp", sha2(col("text"), 256))
      .withColumn("group_size", count(lit(1)).over(w).cast("long"))
      .withColumn("rank_in_group", row_number().over(order).cast("long"))
      .withColumn("is_dup", col("rank_in_group") > 1)
      .select(col("doc_id"), col("group_size"), col("rank_in_group"), col("is_dup"))
  }

  /** MinHash-LSH near-duplicate pairs, verified by exact Jaccard.
    *
    * numHashes = bands × rowsPerBand; a pair lands in the same bucket of
    * band b iff their signatures agree on all rowsPerBand hashes of that
    * band, so P(candidate) = 1-(1-j^r)^b — at the default (16 bands × 4)
    * a Jaccard-0.9 pair is missed with probability ~1e-7. Candidates are
    * then verified exactly, so the output contains no false positives.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b (numeric order).
    *
    * Shuffle weight: the band rows and the candidate self-join carry ONLY
    * (doc_id, band, bucket) — full shingle sets re-join AFTER pair-level
    * dedup, so each document's shingles cross the wire once per verified
    * candidate side, never ×bands (round 1 shipped both shingle arrays
    * through every banded join row and the dropDuplicates shuffle).
    *
    * `maxBucket` bounds the within-bucket quadratic term against
    * adversarial/degenerate skew (e.g. thousands of identical documents
    * landing in one bucket of every band): buckets above the cap are
    * skipped. That trades recall ON DEGENERATE BUCKETS ONLY — run [[exact]]
    * dedup first so identical texts never reach the LSH stage, which is
    * also the cheaper order at scale.
    */
  def minHashLsh(
      docs: DataFrame,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.9,
      maxBucket: Int = 4096): DataFrame = {
    val numHashes = bands * rowsPerBand

    // the shingle frame feeds THREE consumers (signature computation and
    // both sides of the verification join); uncached, lineage recomputes
    // the shingling per consumer — measured +33% on the round-2 bench.
    // MEMORY_AND_DISK persists it once: at cluster scale the frame spills
    // to local disk, which still beats re-shingling the corpus twice over.
    // Left persisted (the result is lazy, so eager unpersist would poison
    // it); callers that materialize results release via [[releaseCaches]],
    // and Spark's LRU block eviction reclaims it under pressure meanwhile.
    val sh = trackedPersist(docs.select(
      col("doc_id").cast("string").as("doc_id"),
      shingles(col("text"), shingleK).as("sh")))
    val sig = sh.select(
      col("doc_id"), graft_minhash(col("sh"), numHashes).as("sig"))

    // band key = (band index, hash of the band's slice of the signature);
    // ids only — no shingle payload. Persisted: the frame feeds BOTH the
    // bucket-size aggregate and the capped join input, and without the
    // cache each consumer recomputes the full MinHash signature pass
    // (numHashes hashes over every shingle of every doc — the operator's
    // dominant CPU) — measured twice per action.
    val banded = trackedPersist(sig.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket"))

    // bucket-size cap: drop degenerate buckets before the self-join.
    // Deliberately groupBy + broadcast-semi rather than a count window
    // over (band, bucket): WindowExec buffers each partition-key group in
    // memory, which is exactly the degenerate-bucket case the cap exists
    // to survive — the aggregate never buffers a group.
    val smallBuckets = observeCaps(banded
      .groupBy("band", "bucket").agg(count(lit(1)).as("bsize")),
      "minhash", "bsize", maxBucket)
      .where(col("bsize") <= maxBucket)
      .select("band", "bucket")
    val capped = banded.join(smallBuckets, Seq("band", "bucket"), "left_semi")

    val a = capped.alias("a")
    val b = capped.alias("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          idBefore(col("a.doc_id"), col("b.doc_id")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b") // same pair from multiple bands

    // exact verification: shingles join back on the deduped id pairs
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard pairs without the O(n²) cross join: prefix
    * filtering (PPJoin family — Xiao et al., "Efficient Similarity Joins
    * for Near Duplicate Detection", WWW 2008). With shingle sets ordered
    * rarest-global-frequency-first, two sets with Jaccard ≥ t MUST share
    * an element inside their first `|s| − ⌈t·|s|⌉ + 1` elements — so the
    * candidate join explodes only that short prefix (|s|/10 + 1 at
    * t = 0.9), plus the size filter `t·|b| ≤ |a|`. Candidates then verify
    * with the full exact intersection. Lossless by construction EXCEPT on
    * prefix posting lists above `maxPrefixBucket`, which are skipped (with
    * a logged warning + [[capSkips]] count) — degenerate boilerplate
    * floods only; run [[exact]] first. The join volume is driven by
    * co-occurrence of RARE shingles — the 100 TB shape for an exact join
    * (minHashLsh remains the approximate one).
    */
  def jaccardPairs(
      docs: DataFrame,
      threshold: Double = 0.9,
      k: Int = 3,
      maxPrefixBucket: Int = 65536): DataFrame = {
    val sh = docs.select(
      col("doc_id").cast("string").as("doc_id"),
      shingles(col("text"), k).as("sh"))
    val posts = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val freq = posts.groupBy("g").agg(count(lit(1)).as("cnt"))
    // rarest-first canonical order; (cnt, g) sort keeps it deterministic.
    // The frame feeds THREE consumers (prefix explode + both sides of the
    // verification join) — uncached, lineage recomputes the posts⋈freq +
    // collect_list subtree per consumer (the same mistake fixed in
    // minHashLsh); MEMORY_AND_DISK persists it once, spilling at scale.
    // Left persisted: the result is lazy, eager unpersist would poison
    // it — materialize, then call [[releaseCaches]].
    val ordered = trackedPersist(posts.join(freq, "g")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("cnt"), col("g")))).as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, x -> x.g)").as("sh"),
        size(col("ord")).as("sz")))
    val prefixLen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val exploded = ordered.select(col("doc_id"), col("sh"), col("sz"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("g"))
    // prefix-posting-list cap: one shingle appearing in many PREFIXES
    // makes the candidate self-join quadratic in that posting list;
    // groups above the cap are skipped (minHashLsh's maxBucket
    // analogue). Rarest-first ordering makes such a shingle pathological
    // by construction — prefixes hold each set's RAREST elements — so at
    // the default cap this only engages on degenerate corpora
    // (near-identical boilerplate floods), where it trades recall on
    // exactly those floods; run [[exact]] dedup first so identical texts
    // never reach this stage. Both consumers of `exploded` re-explode off
    // the PERSISTED `ordered` — no join/agg recompute.
    val smallGroups = observeCaps(exploded
      .groupBy("g").agg(count(lit(1)).as("pc")),
      "jaccard", "pc", maxPrefixBucket)
      .where(col("pc") <= maxPrefixBucket)
      .select("g")
    val prefixed = exploded.join(smallGroups, Seq("g"), "left_semi")

    val a = prefixed.alias("a")
    val b = prefixed.alias("b")
    val candidates = a.join(b,
        col("a.g") === col("b.g") &&
          idBefore(col("a.doc_id"), col("b.doc_id")) &&
          // size filter: t·max ≤ min is necessary for Jaccard ≥ t
          col("a.sz") >= col("b.sz") * threshold &&
          col("b.sz") >= col("a.sz") * threshold)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b") // id-only through the dedup shuffle

    val byId = ordered.select(col("doc_id"), col("sh"))
    candidates
      .join(byId.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(byId.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** SimHash near-duplicate pairs: 64-bit sketch, candidates from 16-bit
    * band collisions (a pair within Hamming distance 3 collides on at least
    * one of the 4 bands by pigeonhole), verified by exact Hamming distance.
    */
  def simHash(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    val sk = docs.select(
      col("doc_id").cast("string").as("doc_id"),
      graft_simhash(split(col("text"), " ")).as("sk"))

    // persisted: two consumers (bucket-size agg + capped join), each
    // otherwise recomputing the SimHash sketch over every token
    val allBands = trackedPersist(sk.select(
      col("doc_id"), col("sk"),
      posexplode(transform(
        sequence(lit(0), lit(3)),
        b => call_function("shiftrightunsigned", col("sk"), b * 16).bitwiseAND(lit(0xFFFFL)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket"))

    // bucket cap (the minHashLsh/jaccardPairs analogue): a flood of
    // identical documents lands one bucket of every band and would make
    // the self-join quadratic in the flood; buckets above the cap are
    // skipped — run [[exact]] dedup first so identical texts never get here
    val smallBuckets = observeCaps(allBands
      .groupBy("band", "bucket").agg(count(lit(1)).as("bsize")),
      "simhash", "bsize", maxBucket)
      .where(col("bsize") <= maxBucket)
      .select("band", "bucket")
    val banded = allBands.join(smallBuckets, Seq("band", "bucket"), "left_semi")

    val a = banded.alias("a")
    val b = banded.alias("b")
    // dedup AFTER the hamming verify (one XOR+popcount per row): the
    // pair-dedup exchange then carries only verified, output-proportional
    // rows instead of the multi-band candidate stream (see
    // embeddingNearDup for the rationale; hamming is deterministic, so
    // duplicates are identical rows)
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          idBefore(col("a.doc_id"), col("b.doc_id")))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sk").as("sk_a"), col("b.sk").as("sk_b"))
      .withColumn("hamming", bit_count(col("sk_a").bitwiseXOR(col("sk_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Connected components over near-duplicate pairs: every document
    * reachable through a chain of pairs gets the same cluster id (its
    * smallest member under the (length, lexicographic) id order every
    * pair operator uses), so a pipeline can keep exactly one canonical
    * document per near-dup cluster — pairwise output alone cannot decide
    * keep/drop when A~B and B~C but A!~C.
    *
    * Distributed min-label propagation with POINTER JUMPING: each round
    * first takes the min label over the neighborhood (one edge join +
    * groupBy), then jumps `lbl(v) := lbl(lbl(v))` (one self-join), which
    * doubles the distance a label travels per round — a diameter-D
    * component converges in O(log D) rounds, not O(D) (the naive
    * propagation a drifting-boilerplate chain would defeat). Everything
    * is id-only: no text/shingles travel, so a round shuffles
    * O(|V_paired| + |E|) ids regardless of document size — the iterated
    * frame holds ONLY vertices that appear in some pair: a vertex with no
    * edge can never change its label, so singletons join the result by
    * anti-join at the end instead of riding (and being shuffled by) every
    * round. Convergence is observed IN the generation's own
    * materialization job (a changed-label count via `observe`), so each
    * round is ONE action, not a materialize + compare-join pair.
    *
    * Edges are restricted to endpoints present in `docs` (a pair id
    * absent from docs can neither appear in the output nor win a
    * min-label — it would otherwise mark a whole real cluster
    * non-canonical). Consequence: connectivity THROUGH an
    * out-of-universe intermediate is not propagated either — compute
    * `pairs` over the same document universe you cluster (every caller
    * in this codebase does), or pre-contract ghost vertices yourself.
    *
    * Returns one row per INPUT document: (doc_id, cluster_id,
    * cluster_size, is_canonical); unpaired documents are singleton
    * clusters of themselves. The edge/id frames are persisted — call
    * [[releaseCaches]] after materializing; label generations are eagerly
    * checkpointed and reclaimed by the ContextCleaner.
    *
    * When the directed edge list is small enough to collect
    * (≤ [[ClustersDriverEdgeMax]] rows), an exact driver-side union-find
    * replaces the propagation rounds with the same labels — see
    * [[driverClusters]]; larger edge lists take the iterative path
    * below unchanged.
    */
  def clusters(pairs: DataFrame, docs: DataFrame, maxIters: Int = 25): DataFrame = {
    val idMin = (c: Column) => struct(length(c).as("l"), c.as("s"))
    val ids = trackedPersist(
      docs.select(col("doc_id").cast("string").as("v")).distinct())
    // endpoint restriction (see doc comment), on the undirected pair list
    // so each semi-join key is checked once, then ONE scan mirrors both
    // directions — the previous two-branch unionAll computed the
    // (possibly expensive) upstream pair plan twice.
    val valid = pairs
      .select(col("doc_a").cast("string").as("doc_a"),
        col("doc_b").cast("string").as("doc_b"))
      .join(ids.select(col("v").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("v").as("doc_b")), Seq("doc_b"), "left_semi")
    val edges = trackedPersist(valid
      .select(explode(array(
        struct(col("doc_a").as("v"), col("doc_b").as("w")),
        struct(col("doc_b").as("v"), col("doc_a").as("w")))).as("e"))
      .select(col("e.v").as("v"), col("e.w").as("w")))
    // each generation is EAGERLY localCheckpoint-ed: an iterative frame
    // rebuilt on its predecessor doubles its LOGICAL plan every round
    // (the self-join references the previous generation twice), so by
    // round ~20 the un-truncated plan tree alone OOMs the driver —
    // caching does not help (it only short-circuits execution, not the
    // plan). Checkpoint blocks are executor-local (the standard iterative
    // graph-algorithm trade: a lost executor fails the job and the
    // caller reruns); the ContextCleaner reclaims old generations.
    //
    // Round 1 needs no materialized seed and no edge join: the identity
    // labelling makes `viaEdges` just the edge list itself, and the
    // min/max aggregate absorbs duplicate self rows (min(lbl) is
    // unaffected, max(prev) still recovers v) — so the first generation
    // builds straight off the persisted edges, saving the seed
    // checkpoint action and an identity join while producing the exact
    // label sequence the seeded formulation would.
    var labels: DataFrame = null
    var iter = 0
    // Size-gated driver fast path: when the whole directed edge list fits
    // a driver budget, exact union-find replaces the propagation rounds —
    // zero per-round shuffle stages (each of which is a straggler
    // opportunity on a contended host). The count doubles as the no-edge
    // guard and materializes the persisted edges, which the first
    // checkpoint round would have done anyway; beyond the gate the
    // distributed path runs unchanged.
    val gate = ClustersDriverEdgeMax
    var converged =
      if (gate > 0L) {
        // one job yields both gate inputs: the row count AND the raw id
        // character volume — long ids (URLs, hex digests) must not slip
        // past a row-only gate into an oversized driver collect
        val m = edges.agg(count(lit(1)),
          sum((length(col("v")) + length(col("w"))).cast("long"))).head()
        val directed = m.getLong(0)
        val idChars = if (m.isNullAt(1)) 0L else m.getLong(1)
        if (directed > 0L && directed <= gate &&
            idChars <= ClustersDriverCharMax)
          return driverClusters(docs.sparkSession,
            edges.as(Encoders.tuple(Encoders.STRING, Encoders.STRING)).collect(), ids)
        directed == 0L
      } else edges.isEmpty // no edges → nothing to propagate
    while (!converged && iter < maxIters) {
      // neighbor min: lbl(v) <- min over N(v) + self; `prev` (the
      // incoming label) rides the same aggregate — the self row(s)
      // carry it, so max() recovers it without an extra join
      val m1src =
        if (labels == null)
          edges.select(col("v"), col("w").as("lbl"),
              lit(null).cast("string").as("prev"))
            .unionAll(edges.select(col("v"), col("v").as("lbl"),
              col("v").as("prev")))
        else
          labels.select(col("v"), col("lbl"), col("lbl").as("prev"))
            .unionAll(edges
              .join(labels.select(col("v").as("w"), col("lbl")), "w")
              .select(col("v"), col("lbl"),
                lit(null).cast("string").as("prev")))
      val m1 = m1src
        .groupBy("v")
        .agg(min(idMin(col("lbl"))).as("m"), max(col("prev")).as("prev"))
        .select(col("v"), col("m.s").as("lbl"), col("prev"))
      // pointer jump: lbl(v) <- lbl(lbl(v)) (labels are always doc ids,
      // so the left join only misses when lbl is already canonical-free;
      // coalesce keeps it). The changed-label count is observed in THIS
      // job — no second convergence action per round.
      val obs = org.apache.spark.sql.Observation()
      val next = m1
        .join(m1.select(col("v").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
        .select(col("v"), coalesce(col("lbl2"), col("lbl")).as("lbl"), col("prev"))
        .observe(obs,
          sum(when(col("lbl") =!= col("prev"), 1L).otherwise(0L)).as("chg"))
        .localCheckpoint(true)
      converged = changedLabels(obs, next) == 0L
      labels = next.select(col("v"), col("lbl"))
      iter += 1
    }
    if (!converged)
      log.warn(s"graft dedup clusters: not converged after $maxIters rounds " +
        "(component diameter > 2^iters is pathological); labels are a valid " +
        "REFINEMENT (over-segmented), never a wrong merge")
    // sizes over PAIRED vertices only; singletons are size-1 clusters of
    // themselves by construction (their label can never change) and skip
    // the groupBy/join entirely — O(paired) shuffle, not O(docs)
    if (labels == null) // no edges: every input doc is a singleton
      return ids.select(col("v").as("doc_id"), col("v").as("cluster_id"),
        lit(1L).as("cluster_size"), lit(true).as("is_canonical"))
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    val clustered = labels.join(sizes, "lbl")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"), (col("v") === col("lbl")).as("is_canonical"))
    clustered.unionAll(singletonRows(ids, labels.select(col("v"))))
  }

  /** Singleton clusters for every id absent from `paired` (one column
    * `v`): shared by the driver and distributed [[clusters]] paths so
    * their singleton semantics cannot diverge.
    */
  private def singletonRows(ids: DataFrame, paired: DataFrame): DataFrame =
    ids.join(paired, Seq("v"), "left_anti")
      .select(col("v").as("doc_id"), col("v").as("cluster_id"),
        lit(1L).as("cluster_size"), lit(true).as("is_canonical"))

  /** Max directed-edge rows for [[clusters]]' driver-side union-find path
    * (default 2^20 ≈ 1M rows). The budget counts JVM object overhead, not
    * just id bytes: with compressed oops a collected row of two ~10-char
    * ids is a Tuple2 (24 B) plus two Strings (24 B each) with their byte
    * arrays (~32 B each), ~140 B in all, so a full gate holds ~150 MB of
    * transient driver heap, plus the union-find index over the distinct
    * ids (a map node, boxed ints and a UTF-8 copy per id, ~100 B each).
    * Overridable for tests via the
    * graft.clusters.driverEdgeMax system property; 0 disables the fast
    * path entirely.
    */
  private[ops] def ClustersDriverEdgeMax: Long =
    GateProps.long("graft.clusters.driverEdgeMax", 1L << 20)

  /** Companion byte-ish budget for the same gate: total id CHARACTERS
    * across the directed edge list (default 2^25 ≈ 33M chars: 32 MB of
    * Latin-1 string bytes, 64 MB as UTF-16, on top of the per-row object
    * overhead the row gate budgets). Protects drivers from
    * long-id corpora (URLs, content digests) that pass the row gate.
    */
  private[ops] def ClustersDriverCharMax: Long =
    GateProps.long("graft.clusters.driverCharMax", 1L << 25)

  /** Driver-side exact connected components for edge lists small enough
    * to collect (≤ [[ClustersDriverEdgeMax]] directed rows). Union-find
    * with path halving replaces the propagation rounds entirely: no
    * per-round shuffles, checkpoints, or convergence actions. The label
    * rule is replicated exactly: cluster id = min member under
    * (length, lexicographic) where length is Spark's length() (code
    * points, not UTF-16 units) and the tiebreak compares UTF-8 BYTES
    * unsigned — UTF8String order, identical for non-ASCII ids too.
    * `edgeRows` is the mirrored (both directions) edge list already
    * restricted to endpoints present in docs; `ids` is the distinct
    * doc_id frame singletons rejoin from.
    */
  private def driverClusters(
      spark: SparkSession,
      edgeRows: Array[(String, String)],
      ids: DataFrame): DataFrame = {
    val index = new java.util.HashMap[String, Integer]()
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def vid(s: String): Int = {
      val got = index.get(s)
      if (got != null) got.intValue()
      else {
        val i = names.length
        index.put(s, i); names += s; parent += i; i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edgeRows.foreach { case (v, w) =>
      val a = find(vid(v))
      val b = find(vid(w))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val n = names.length
    val utf8 = names.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val nchars = names.map(s => s.codePointCount(0, s.length))
    def less(a: Int, b: Int): Boolean =
      if (nchars(a) != nchars(b)) nchars(a) < nchars(b)
      else java.util.Arrays.compareUnsigned(utf8(a), utf8(b)) < 0
    val minOf = Array.fill(n)(-1)
    val sizeOf = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = find(i)
      sizeOf(r) += 1L
      if (minOf(r) < 0 || less(i, minOf(r))) minOf(r) = i
      i += 1
    }
    val out = new Array[(String, String, Long, Boolean)](n)
    i = 0
    while (i < n) {
      val r = find(i)
      out(i) = (names(i), names(minOf(r)), sizeOf(r), i == minOf(r))
      i += 1
    }
    val clustered = spark.createDataFrame(out.toIndexedSeq)
      .toDF("doc_id", "cluster_id", "cluster_size", "is_canonical")
    clustered.unionAll(
      singletonRows(ids, clustered.select(col("doc_id").as("v"))))
  }

  /** Changed-label count from the generation's observed metric. The
    * listener delivering observe() results is asynchronous, so poll
    * briefly; if the metric never lands (it always does in practice — the
    * generation job has just completed), fall back to scanning the
    * checkpointed generation itself, which is a cheap local scan, never a
    * recompute.
    */
  private def changedLabels(
      obs: org.apache.spark.sql.Observation, next: DataFrame): Long = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var m = org.apache.spark.sql.GraftSql.observedOrEmpty(obs)
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(2)
      m = org.apache.spark.sql.GraftSql.observedOrEmpty(obs)
    }
    m.get("chg") match {
      case Some(n: java.lang.Long) => n.longValue()
      case Some(n: java.lang.Number) => n.longValue()
      case _ => next.where(col("lbl") =!= col("prev")).count()
    }
  }

  /** Brute-force exact n-gram Jaccard pairs ≥ threshold — the correctness
    * oracle for [[minHashLsh]]; quadratic, small inputs only.
    */
  def ngramJaccardBrute(docs: DataFrame, shingleK: Int = 3, threshold: Double = 0.9): DataFrame = {
    val sh = docs.select(
      col("doc_id").cast("string").as("doc_id"),
      shingles(col("text"), shingleK).as("sh"))
    val a = sh.alias("a")
    val b = sh.alias("b")
    a.crossJoin(b)
      .where(idBefore(col("a.doc_id"), col("b.doc_id")))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs over an embeddings table
    * (vec_id, embedding: array<float>): banded hyperplane LSH candidates
    * (agree on all `rowsPerBand` sign bits of SOME band — the angular
    * analogue of MinHash banding; P(candidate) = 1-(1-p^r)^B with
    * p = 1-θ/π), verified by exact cosine. Same shuffle discipline as
    * [[minHashLsh]]: ids only through the band join, embeddings re-joined
    * for verification after pair dedup; `maxBucket` caps degenerate
    * buckets.
    *
    * Defaults (8 bands × 4 bits) suit near-dup thresholds ≥ 0.9 (miss
    * ≤ 2e-4 at cos 0.95); for lower thresholds use more, narrower bands.
    */
  def embeddingNearDup(
      emb: DataFrame,
      threshold: Double = 0.95,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    val base = emb.select(
      col("vec_id").cast("long").as("vec_id"), col("embedding"))
    // persisted for the same reason as minHashLsh's banded frame: two
    // consumers, each otherwise recomputing the hyperplane signatures
    val banded = trackedPersist(base.select(
        col("vec_id"),
        posexplode(Similarity.hyperplaneBandKeys(col("embedding"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))

    val smallBuckets = observeCaps(banded
      .groupBy("band", "bucket").agg(count(lit(1)).as("bsize")),
      "embed", "bsize", maxBucket)
      .where(col("bsize") <= maxBucket)
      .select("band", "bucket")
    val capped = banded.join(smallBuckets, Seq("band", "bucket"), "left_semi")

    val a = capped.alias("a")
    val b = capped.alias("b")
    // dedup BEFORE the verification joins, deliberately: the verify step
    // attaches the (potentially multi-KB) embedding payloads, and at
    // non-broadcastable scale those joins shuffle — deduping the id-only
    // candidate stream first ships each embedding once per pair, never
    // once per colliding band. (simHash takes the opposite order because
    // its band rows already carry the whole 8-byte sketch — no payload
    // join exists to amplify.)
    val cand = a.join(b,
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")

    cand
      .join(base.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .select(
        col("vec_a"), col("vec_b"),
        Similarity.cosine(col("emb_a"), col("emb_b")).as("cosine"))
      .where(col("cosine") >= threshold)
  }
}
