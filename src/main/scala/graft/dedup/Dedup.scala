package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions._

/** Deduplication operators for large-scale corpus curation: exact
  * (hash-groupBy), exact n-gram Jaccard (shingle inverted index), MinHash
  * + LSH banding, and SimHash blocking — the standard pretraining-data
  * near-dup stack.
  *
  * Design for 100 TB:
  *  - Exact dedup shuffles a 256-bit digest, never the document text.
  *  - The shingle inverted index (`jaccardPairs`) is the oracle-exact
  *    baseline; its self-join is quadratic in posting-list length, so at
  *    scale callers use [[minhashPairs]] / [[simhashPairs]], which shuffle
  *    only fixed-size signatures and verify the few candidates exactly.
  *  - Per-document state (shingle set, 128-long signature) is bounded by
  *    document length, so collect-to-array aggregations stay executor-safe.
  *  - Candidate verification recomputes TRUE Jaccard on the candidate
  *    pairs, so approximate recall never admits a false positive; with the
  *    banding parameters below, a pair at s >= 0.8 is missed with
  *    probability < 1e-10 (1-(1-s^4)^32) — the output is exact w.h.p.,
  *    which is what lets the DuckDB brute-force oracle hash-match it.
  */
object Dedup {

  /** Exact duplicate grouping: every row mapped to the minimum id sharing
    * an identical (byte-equal) text. Shuffles (digest, id) pairs only.
    */
  def exactGroups(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val keyed = df.select(idCol.as("doc_id"), sha2(textCol, 256).as("text_sha"))
    val reps = keyed.groupBy(col("text_sha"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("group_size"))
    keyed.join(reps, "text_sha")
      .select(col("doc_id"), col("text_sha"), col("rep_id"),
        col("group_size"), (col("doc_id") =!= col("rep_id")).as("is_dup"))
  }

  /** (doc_id, shingle-set) relation shared by the pair operators.
    * Uses the native single-pass ShingleSet expression: the composed HOF
    * form is interpreted per element and — once CollapseProject/filter
    * pushdown inline the token expression into the lambda — re-tokenizes
    * the document per shingle (measured 30s+ on 5k docs vs ~0.5s native).
    */
  private def shingled(df: DataFrame, textCol: Column, idCol: Column,
      n: Int): DataFrame =
    // widen: the shingle kernel is the classic bytes-say-one-task /
    // compute-wants-every-core stage (Parallelism scaladoc) — a no-op
    // whenever the scan already fills the cluster.
    graft.core.Parallelism.widen(df, idCol)
      .select(idCol.as("doc_id"), shingleSetN(textCol, n).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** Jaccard from intersection count and set sizes — the exact arithmetic
    * the oracle uses: CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE).
    */
  private def jaccard(inter: Column, na: Column, nb: Column): Column =
    inter.cast("double") / (na + nb - inter).cast("double")

  /** All-pairs n-gram Jaccard via a DF-capped shingle inverted index.
    *
    * Candidate generation self-joins the index ONLY on shingles whose
    * document frequency is <= maxDf; the cap is what makes the plan
    * survive 100 TB: a corpus-frequent "stop shingle" with df = D would
    * contribute O(D^2) join rows while carrying almost no similarity
    * evidence — capping bounds the self-join output at
    * maxDf * |postings| (linear).
    *
    * Exactness when the cap binds: shared shingles living in capped
    * buckets are invisible to the intersection COUNT, so the count is a
    * LOWER bound on the true intersection. Each document's number of
    * capped shingles is therefore counted too, and the prefilter keeps
    * every pair whose OPTIMISTIC Jaccard — count plus
    * min(capped_a, capped_b) shared-at-best — could reach the threshold;
    * survivors are re-verified on the true shingle sets
    * ([[verifyPairs]]), so reported values are always exact and the
    * prefilter never drops a qualifying pair that generated a candidate.
    *
    * Loss bound: a true pair is missed only if EVERY shingle the two
    * documents share is corpus-frequent (df > maxDf) — then no uncapped
    * bucket pairs them at all. Near-dup pairs share many, predominantly
    * rare shingles, so this is vanishing; on the harness corpus the cap
    * is inert outright (max corpus df = 25 at sf0.1, and every planted
    * pair at j >= 0.8 shares a shingle with df <= 10), which is why the
    * brute-force oracle still hash-matches.
    */
  def jaccardPairs(df: DataFrame, textCol: Column, idCol: Column,
      n: Int, threshold: Double, maxDf: Int = 64): DataFrame = {
    // DELIBERATELY NOT persisted, though sh appears under the counting
    // subtree AND both sides of verifyPairs: columnar-caching the wide
    // shingle arrays costs more than recomputing them with the native
    // per-row ShingleSet (measured r9 at sf0.1: persist() moved d2
    // 2.58 -> 3.09 s — the same InMemoryRelation encode/decode loss the
    // pr1 eager-cache experiment measured). Recompute-over-cache is the
    // right trade wherever the producer is a JIT'd per-row kernel.
    val sh = shingled(df, textCol, idCol, n)
    val post = sh.select(col("doc_id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("sh"))
    // One shuffle generates the pairs: group postings per shingle
    // (bucket = posting list), expand each uncapped bucket's pairs
    // locally with the sizes riding along, and COUNT shared shingles per
    // pair — a pure hash-agg, no per-pair set intersection (the naive
    // all-candidates verify form spent 6s re-intersecting ~1M candidate
    // arrays). Buckets key on the raw shingle string, so counts are
    // collision-free lower bounds (exact when the cap is inert).
    val counted = post.groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("members"))
      .filter(size(col("members")).between(2, maxDf))
      .select(explode(bucketPairs(col("members"))).as("p"))
      .select(col("p.doc_a.doc_id").as("doc_a"), col("p.doc_b.doc_id").as("doc_b"),
        col("p.doc_a.sz").as("sza"), col("p.doc_b.sz").as("szb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("sza")).as("na"), max(col("szb")).as("nb"))
    val bounded = withCappedBound(counted, cappedPerDoc(post, "sh", maxDf))
    // Pairs the cap cannot have touched (neither side holds a capped
    // shingle) have an EXACT count — emit them straight from the count
    // arithmetic, exactly as when the cap is inert. Only cap-touched
    // pairs whose optimistic Jaccard reaches the threshold pay the
    // verification join — zero pairs on a corpus with no stop shingles.
    val exactNow = bounded.filter(col("cmin") === 0)
      .withColumn("jaccard", jaccard(col("inter"), col("na"), col("nb")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val needVerify = bounded.filter(col("cmin") > 0)
      .filter(jaccard(col("inter") + col("cmin"), col("na"), col("nb"))
        >= threshold)
      .select(col("doc_a"), col("doc_b"))
    exactNow.unionByName(verifyPairs(needVerify, sh, threshold))
  }

  /** Per-document count of shingles whose document frequency exceeds
    * maxDf — the amount by which a bucket-count intersection can
    * under-count. One light count-aggregate finds the stop shingles
    * (bounded by vocabulary, so broadcast-sized by construction); one
    * broadcast semi-join + count gives the per-doc totals. Empty when
    * the cap is inert. `post` must carry (doc_id, `key`).
    */
  private def cappedPerDoc(post: DataFrame, key: String, maxDf: Int): DataFrame = {
    val stop = post.groupBy(col(key)).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col(key))
    post.join(broadcast(stop), key)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("capped_ct"))
  }

  /** Annotate counted pairs with `cmin` = min(capped_a, capped_b): the
    * maximum number of shared shingles the DF cap can have hidden from
    * the count. The true intersection lies in [inter, inter + cmin].
    */
  private def withCappedBound(counted: DataFrame, capped: DataFrame): DataFrame =
    counted
      .join(capped.select(col("doc_id").as("doc_a"), col("capped_ct").as("ca")),
        Seq("doc_a"), "left")
      .join(capped.select(col("doc_id").as("doc_b"), col("capped_ct").as("cb")),
        Seq("doc_b"), "left")
      .withColumn("cmin",
        least(coalesce(col("ca"), lit(0L)), coalesce(col("cb"), lit(0L))))

  /** Exact verification of candidate (doc_a, doc_b) pairs: join the
    * shingle sets back and compute true Jaccard. Candidates are few, so
    * the array intersection is cheap.
    */
  private def verifyPairs(cands: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        jaccard(col("inter"), size(col("sh_a")), size(col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** All unordered pairs (a < b) from a bucket's member array — buckets
    * are small, so the quadratic expansion is per-bucket-bounded.
    */
  private def bucketPairs(members: Column): Column = {
    val sorted = array_sort(members)
    flatten(transform(sorted, x =>
      transform(filter(sorted, y => y > x),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
  }

  /** MinHash + LSH banding near-dup pairs.
    *
    * Signature: 128 universal-hash permutations over p = 2^31-1,
    * computed and banded per row by the native
    * [[graft.functions.MinHashBandKeys]] expression — the signature
    * never leaves the row. Banding: 32 bands x 4 rows; docs sharing any
    * band key are candidates, then verified exactly. Shuffle payload per
    * doc: 32 (band, key) longs — not the text, not the shingle postings
    * (the previous explode + 128-min-aggregate signature build shuffled
    * one row per shingle and its wide aggregate fell out of whole-stage
    * codegen).
    */
  /** @param maxBucket skew guard: a band bucket larger than this is
    *   SKIPPED, not expanded. An adversarial (or degenerate: boilerplate
    *   header, template spam) key that floods one bucket with D docs
    *   would otherwise expand O(D^2) candidate pairs — the melt case at
    *   100 TB, where one hot key turns the candidate join quadratic.
    *   Recall cost is negligible by the banding math: a TRUE near-dup
    *   pair at s >= threshold agrees per band with probability s^rows
    *   (~0.66 at s=0.8, 4 rows), so it pairs in many of the 32 bands and
    *   is lost only if EVERY agreeing band's bucket is flooded past the
    *   cap — while the flood itself only forms when thousands of docs
    *   share a band key they do NOT owe to mutual similarity. DedupSpec
    *   plants exactly that flood and pins both the bound and the recall.
    */
  def minhashPairs(df: DataFrame, textCol: Column, idCol: Column,
      n: Int, threshold: Double,
      numHashes: Int = 128, bands: Int = 32,
      maxBucket: Int = 1024): DataFrame = {
    val sh = shingled(df, textCol, idCol, n)
    verifyPairs(
      minhashCandidatePairs(df, textCol, idCol, n, numHashes, bands,
        maxBucket),
      sh, threshold)
  }

  /** The banding candidate stage of [[minhashPairs]], exposed so tests
    * can pin the candidate-pair count under adversarial bucket skew. */
  private[graft] def minhashCandidatePairs(df: DataFrame, textCol: Column,
      idCol: Column, n: Int, numHashes: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    val bandKeys = df.select(idCol.as("doc_id"),
        graft.text.TextFunctions.minhashBandKeys(textCol, n, numHashes, bands)
          .as("bks"))
      .filter(col("bks").isNotNull)
      .select(col("doc_id"), posexplode(col("bks")))
      .toDF("doc_id", "band", "bkey")
    bandKeys.groupBy(col("band"), col("bkey"))
      .agg(collect_list(col("doc_id")).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(bucketPairs(col("members"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()
  }

  /** SimHash near-dup pairs (hybrid with an exact path for short docs).
    *
    * 64-bit SimHash over shingle hashes (bit j set iff the majority of
    * shingle hashes have bit j set) is a concentration sketch: its
    * Hamming distance tracks similarity only when the shingle multiset is
    * large enough for the majority vote to settle. Short documents
    * (< `minShinglesForSketch`) are therefore routed through the exact
    * inverted-index path — their posting lists are tiny, so exact is
    * cheap precisely where the sketch is unreliable. Long-doc pairs are
    * blocked on 8-bit chunks (pigeonhole: any pair within Hamming
    * distance `blocks-1` = 7 shares a chunk — and at >= 64 shingles,
    * true near-dup pairs concentrate well inside that radius), then
    * prefiltered by full-code Hamming <= maxHamming (a 3-instruction
    * integer test; random pairs sit at Hamming ~32) before the exact
    * verification join. Shuffle payload per long doc: 8 chunk keys plus
    * the 64-bit code.
    */
  def simhashPairs(df: DataFrame, textCol: Column, idCol: Column,
      n: Int, threshold: Double, blocks: Int = 8,
      maxHamming: Int = 12, minShinglesForSketch: Int = 64,
      maxDf: Int = 64, maxBucket: Int = 1024): DataFrame = {
    val bits = 64 / blocks
    val sh = shingled(df, textCol, idCol, n)
      .withColumn("short", size(col("shingles")) < minShinglesForSketch)

    // Exact path: every pair with at least one short side, via shingle
    // buckets over 64-BIT HASHED keys (narrow shuffle, no string
    // comparisons). Same one-shuffle bucket-count shape as
    // [[jaccardPairs]], with the DF cap as the bucket-size filter: a
    // corpus-frequent shingle of frequency D would otherwise contribute
    // O(D^2) pairs (the 100 TB melt case; cap inert on the harness
    // corpus, max df = 25 < 64). Hash collisions can only INFLATE the
    // per-pair count while the cap can only DEFLATE it, so the
    // prefilter runs on the optimistic count (counted + the capped bound
    // from [[withCappedBound]]/[[cappedPerDoc]]) — sound in both
    // directions — and the
    // survivors (few) are verified exactly on string shingle sets.
    // Long-long pairs are left to the sketch path.
    val post = sh.select(col("doc_id"), col("short"),
      size(col("shingles")).as("sz"), explode(col("shingles")).as("s0"))
      .select(col("doc_id"), col("short"), col("sz"),
        xxhash64(col("s0")).as("h"))
    val shortCounted = post.groupBy(col("h"))
      .agg(collect_list(struct(col("doc_id"), col("short"), col("sz")))
        .as("members"))
      .filter(size(col("members")).between(2, maxDf))
      .select(explode(bucketPairs(col("members"))).as("p"))
      .filter(col("p.doc_a.short") || col("p.doc_b.short"))
      .select(col("p.doc_a.doc_id").as("doc_a"),
        col("p.doc_b.doc_id").as("doc_b"),
        col("p.doc_a.sz").as("sza"), col("p.doc_b.sz").as("szb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("sza")).as("na"), max(col("szb")).as("nb"))
    val shortCands = withCappedBound(shortCounted,
        cappedPerDoc(post.select(col("doc_id"), col("h")), "h", maxDf))
      .filter(jaccard(col("inter") + col("cmin"), col("na"), col("nb"))
        >= threshold)
      .select(col("doc_a"), col("doc_b"))

    // Sketch path: long docs only. The 64-bit code is computed per row
    // by the native [[graft.functions.SimHashCode]] expression (distinct
    // shingles, majority bit vote, null below the shingle cutoff — so
    // short docs never enter this pipeline); only (doc_id, chunk keys)
    // are shuffled. Replaces an explode + 65-sum-aggregate majority
    // build that shuffled one row per shingle.
    val sim = df.select(idCol.as("doc_id"),
        graft.text.TextFunctions.simhashCode(textCol, n, minShinglesForSketch)
          .as("simhash"))
      .filter(col("simhash").isNotNull)
    val chunkKeys = sim.select(col("doc_id"),
      explode(array((0 until blocks).map(c =>
        struct(lit(c).as("blk"),
          shiftrightunsigned(col("simhash"), c * bits)
            .bitwiseAND(lit((1L << bits) - 1)).as("ckey"))): _*)).as("ck"))
      .select(col("doc_id"), col("ck.blk"), col("ck.ckey"))
    // Same skew guard as minhashPairs' maxBucket: a chunk value shared
    // by D correlated docs (template/boilerplate spam) would otherwise
    // expand O(D^2) pairs in one bucket — the melt case at 100 TB. A
    // true near-dup pair sits within Hamming maxHamming, so it shares
    // several of the 8 chunks and is lost only if EVERY shared chunk's
    // bucket floods past the cap.
    val rawCands = chunkKeys.groupBy(col("blk"), col("ckey"))
      .agg(collect_list(col("doc_id")).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(bucketPairs(col("members"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b")).distinct()
    val codes = sim.select(col("doc_id"), col("simhash"))
    val sketchCands = rawCands
      .join(codes.select(col("doc_id").as("doc_a"),
        col("simhash").as("sim_a")), "doc_a")
      .join(codes.select(col("doc_id").as("doc_b"),
        col("simhash").as("sim_b")), "doc_b")
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .select(col("doc_a"), col("doc_b"))
    // Short-side and long-long candidate sets are disjoint by
    // construction; one exact verification pass covers both.
    verifyPairs(shortCands.unionByName(sketchCands),
      sh.drop("short"), threshold)
  }

  /** Train/eval decontamination: flag every training document sharing at
    * least one word n-gram with the evaluation corpus — the standard
    * benchmark-leakage sweep a pretraining pipeline runs before
    * training (n = 13 is the conventional window).
    *
    * Scale design: eval corpora are benchmarks — thousands of documents
    * against a 100 TB train side — so the eval n-gram set is DISTINCTed
    * and BROADCAST; the train side then streams through a map-side hash
    * join (no shuffle of train shingles) and a per-doc partial/final
    * count. The left join restores zero-hit docs so the output domain is
    * exactly the training set. If the eval set ever outgrew broadcast,
    * the same plan degrades gracefully to a shuffled equi-join on the
    * shingle — still linear, never all-pairs.
    *
    * Output: (doc_id, n_shared_ngrams, is_contaminated) for every
    * training doc; `n_shared_ngrams` counts the doc's DISTINCT n-grams
    * that appear anywhere in eval.
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
      textCol: Column, idCol: Column, n: Int = 13): DataFrame = {
    val evalSh = eval.select(explode(shingleSetN(textCol, n)).as("sh"))
      .distinct()
    // widen: the 13-gram kernel + broadcast probe is pure per-row CPU;
    // no-op when the train scan already fills the cluster.
    val trainSh = graft.core.Parallelism.widen(train, idCol)
      .select(idCol.as("doc_id"),
        explode(shingleSetN(textCol, n)).as("sh"))
    val hits = trainSh.join(broadcast(evalSh), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
    train.select(idCol.as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("n_shared_ngrams"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** Bloom-filter decontamination: the same train/eval n-gram sweep as
    * [[decontaminate]], but the eval side is compressed into a FIXED-SIZE
    * bitset (m bits, k double-hashed probes per n-gram) instead of a
    * broadcast hash set of the n-gram strings.
    *
    * This is the 100 TB shape when the eval corpus is itself large: the
    * broadcast payload is m/8 bytes (8 KiB here) — independent of eval
    * size — and the train side stays a pure scan: per shingle, k integer
    * probes against the bitset literal, zero joins, zero shuffle until
    * the per-doc rollup. The price is one-sided error: Bloom hits include
    * false positives (flagged docs get re-checked by the exact pass over
    * a now-tiny subset), never false negatives — a contaminated doc can't
    * escape.
    *
    * Determinism: probe i of a shingle with rolling hash h lands at
    * (h + i*((h mod 65521)+1)) mod m — double hashing with an
    * always-nonzero step, all integer arithmetic the DuckDB oracle
    * reproduces exactly (bitset membership == membership of the probe
    * position in the eval positions set, so the oracle needs no bitset).
    *
    * The eval-position collect is bounded by min(k * |eval shingles|, m)
    * <= m = 65536 rows — the codebook-materialization pattern, not a data
    * collect.
    *
    * Output: (doc_id, n_bloom_hits, maybe_contaminated) for every
    * training doc; `maybe_contaminated` is the superset-flag an exact
    * verification pass (e.g. [[decontaminate]] restricted to flagged
    * docs) would confirm.
    */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame,
      textCol: Column, idCol: Column, n: Int = 13,
      m: Int = 65536, k: Int = 3): DataFrame = {
    require(m % 64 == 0, s"bitset size must be word-aligned, got $m")
    def positions(h: Column): Seq[Column] =
      (0 until k).map(i =>
        pmod(h + lit(i.toLong) * (pmod(h, lit(65521L)) + 1L), lit(m.toLong)))
    val evalPos = eval.select(explode(shingleSetN(textCol, n)).as("sh"))
      .distinct()
      .select(rollingHash(col("sh")).as("h"))
      .select(explode(array(positions(col("h")): _*)).as("p"))
      .distinct()
    val bits = new Array[Long](m / 64)
    evalPos.collect().foreach { r =>
      val p = r.getLong(0).toInt
      bits(p >> 6) |= 1L << (p & 63)
    }
    val bitsLit = lit(bits)
    def bitSet(p: Column): Column = {
      val word = element_at(bitsLit, (p / 64).cast("int") + 1)
      val shifted = org.apache.spark.sql.graftbridge.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.ShiftRight(
          org.apache.spark.sql.graftbridge.Bridge.expression(word),
          org.apache.spark.sql.graftbridge.Bridge.expression(
            (p % 64).cast("int"))))
      shifted.bitwiseAND(lit(1L)) === 1L
    }
    // explode_outer keeps sub-n-token docs (sh = null -> no hit), so the
    // output domain is exactly the training set without a restore join.
    train.select(idCol.as("doc_id"),
        explode_outer(shingleSetN(textCol, n)).as("sh"))
      .withColumn("h", rollingHash(col("sh")))
      .withColumn("hit",
        when(col("sh").isNull, lit(false))
          .otherwise(positions(col("h")).map(bitSet).reduce(_ && _)))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("hit"), lit(1L)).otherwise(lit(0L))).as("n_bloom_hits"))
      .select(col("doc_id"), col("n_bloom_hits"),
        (col("n_bloom_hits") > 0).as("maybe_contaminated"))
  }

  /** Rounds the last [[duplicateClusters]] call took — test-visible so
    * DedupSpec can pin the O(log diameter) claim (a silently broken
    * doubling step still converges, just in diameter rounds). */
  @volatile private[graft] var lastIterations: Int = 0 // diagnostic: last COMPLETED call's rounds

  /** Connected components over near-dup pairs: the clustering step that
    * turns pairwise matches into keep/drop decisions (every member maps
    * to the minimum doc id of its component — the canonical survivor).
    *
    * Algorithm: min-label propagation with POINTER DOUBLING, run as a
    * Pregel-shaped RDD loop over a FIXED HashPartitioner — the one case
    * in this engine where the DataFrame API is the wrong tool: an
    * iterative refinement replans, re-codegens and re-shuffles every
    * round under Catalyst (measured: ~0.3 s/round of pure latency on a
    * 2048-vertex graph — the data was irrelevant), while the RDD loop
    * keys every side on the same partitioner so each round is ONE job
    * whose joins are co-partitioned (narrow) and whose only wide edge
    * is the candidate-min reduce.
    *
    * The doubling trick rides the SAME join: each round's edge set is
    * the graph edges PLUS each vertex's label pointer (lbl -> v taken
    * as an edge), so one join+reduce delivers both the neighbors'
    * labels (propagation) and the label's label (the shortcut).
    * Propagation alone needs diameter rounds — similarity graphs plant
    * long chains, and each round is a global pass — while the shortcut
    * halves remaining path length per round, so the iteration count is
    * O(log diameter). DedupSpec pins that claim on a 400-edge path
    * graph (10 rounds, not 400).
    *
    * Convergence folds into the round's own materialization: labels
    * only decrease, so a LongAccumulator counting label drops inside
    * the round's map is zero exactly at the fixpoint — no separate
    * probe job, and shuffle-retry double-counting is harmless because
    * only zero/nonzero is read. State stays (vertex, label) pairs,
    * partitioned and persisted with the previous round unpersisted as
    * the loop advances; lineage grows a constant number of narrow
    * nodes per round (no Catalyst plan to blow up). `maxIterations`
    * guards pathological inputs; the fixpoint is unique, so the result
    * is deterministic and matches the oracle's recursive-CTE
    * transitive closure exactly. The only driver-side value is the
    * accumulator.
    *
    * Input: (doc_a, doc_b) pair frame. Output: one row per clustered
    * doc — (doc_id, cluster_rep, cluster_size); singletons (docs in no
    * pair) are not emitted, mirroring the pair relation's domain.
    */
  /** @param localThreshold edge count at or below which the graph is
    *   solved by a SINGLE-TASK union-find instead of the Pregel loop —
    *   the same 2M-edges-per-partition width rule the distributed
    *   path's partitioner uses: a graph that collapses to one partition
    *   anyway gains nothing from ~log(diameter) global rounds of
    *   scheduler latency (measured ~80 ms/round of pure per-job cost at
    *   bench scale), while one in-memory union-find over <= 2M edges is
    *   milliseconds and computes the IDENTICAL fixpoint (min vertex id
    *   per component — union-by-min keeps every root the component's
    *   minimum). The task runs on an executor over the same symmetrized
    *   RDD, not a driver collect. Tests pass 0 to force the loop. */
  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 30,
      localThreshold: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Materialize the (possibly expensive) pair plan ONCE, symmetrized.
    val symRaw = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")).rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        Iterator((a, b), (b, a))
      }.persist(lvl)
    val m = symRaw.count()
    if (m <= 2L * localThreshold) {
      // Small-graph fast path: one executor task unions the edge list.
      val labels = symRaw.coalesce(1).mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]
        def add(x: Long): Unit =
          if (!parent.containsKey(x)) parent.put(x, x)
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (parent.get(c) != r) {
            val n: Long = parent.get(c); parent.put(c, r); c = n
          }
          r
        }
        it.foreach { case (a, b) =>
          add(a); add(b)
          val ra = find(a); val rb = find(b)
          // union-by-min: the root is always its component's minimum.
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long)]
        parent.keySet.forEach(v => out += ((v.longValue, find(v))))
        out.iterator
      }.persist(lvl)
      labels.count() // materialize before the edge blocks are dropped
      symRaw.unpersist(true)
      lastIterations = 1
      return clusterFrame(spark, labels)
    }
    // Partition width follows the EDGE volume: ~2M edges (tens of MB)
    // per partition keeps tasks substantial at 100 TB scale while a
    // bench-scale graph collapses to a handful of partitions instead
    // of paying 32 near-empty tasks per stage.
    val parts = math.max(1, math.min(sc.defaultParallelism,
      math.ceil(m / 2e6).toInt))
    val part = new org.apache.spark.HashPartitioner(parts)
    val edges = symRaw.partitionBy(part).persist(lvl)
    edges.count()
    // Blocking: symRaw duplicates the edge bytes; freeing it before the
    // loop starts (not whenever the async removal lands) keeps exactly
    // one copy of the graph in the block manager during the rounds.
    symRaw.unpersist(true)
    // Initial labels: min(self, neighbors) — a reduce over the edges.
    var labels = edges.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (v, nm) => (v, math.min(v, nm)) },
        preservesPartitioning = true)
      .persist(lvl)
    labels.count()
    var it = 0
    var converged = false
    while (!converged && it < maxIterations) {
      val acc = sc.longAccumulator(s"cc-changes-$it")
      // Label pointers as edges: (lbl, v) listens to lbl's next label.
      // partitionBy keeps the union partitioner-aligned so the join
      // below stays narrow over the cached graph edges.
      val ptrEdges = labels.map { case (v, l) => (l, v) }.partitionBy(part)
      // union of two RDDs sharing a partitioner goes through Spark's
      // partitioner-aware union: the result keeps `part`, so the join
      // below stays narrow.
      val candidates = edges.union(ptrEdges)
      // One co-partitioned join delivers, for every vertex y, the label
      // of each neighbor AND of its label pointer; one reduce takes the
      // min; one co-partitioned join folds it into the old label and
      // counts drops. Exactly one wide edge per round.
      val next = candidates.join(labels)
        .map { case (_, (y, lx)) => (y, lx) }
        .reduceByKey(part, math.min(_, _))
        .join(labels)
        .mapPartitions(_.map { case (v, (cand, old)) =>
          val l2 = math.min(cand, old)
          if (l2 < old) acc.add(1L)
          (v, l2)
        }, preservesPartitioning = true)
        .persist(lvl)
      next.count() // the round's one job; also finalizes the accumulator
      it += 1
      converged = acc.value == 0L
      labels.unpersist(false)
      labels = next
    }
    lastIterations = it
    // Partially-propagated labels are silently WRONG (a component wider
    // than the iteration bound would report several fragments as
    // separate clusters) — refuse to return them.
    if (!converged) {
      edges.unpersist(false)
      labels.unpersist(false) // nothing returns it; don't leak the blocks
      throw new IllegalStateException(
        s"duplicateClusters did not converge within $maxIterations " +
          "iterations: a component's diameter exceeds the bound; " +
          "raise maxIterations")
    }
    // Blocking: edges is the big block-manager tenant (2 entries per
    // input pair). The caller's downstream plan reads only `labels`, so
    // eagerly evicting edges here — rather than letting the async
    // removal race the next catalog entry — is what keeps a bench sweep
    // (or a multi-tenant cluster) from carrying dead graph blocks into
    // the queries that follow. `labels` itself must stay persisted: the
    // returned frame reads it, and its lineage (cut per round only by
    // persistence) would otherwise recompute the whole loop; it is
    // small — one (vertex, label) pair per clustered doc — and the
    // ContextCleaner reclaims it when the result frame is dropped.
    edges.unpersist(true)
    clusterFrame(spark, labels)
  }

  /** (vertex, label) RDD -> the operator's output frame: one row per
    * clustered doc with its component rep and size. */
  private def clusterFrame(spark: org.apache.spark.sql.SparkSession,
      labels: org.apache.spark.rdd.RDD[(Long, Long)]): DataFrame = {
    val labelDf = spark.createDataFrame(
      labels.map { case (v, l) => org.apache.spark.sql.Row(v, l) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("lbl",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val sizes = labelDf.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labelDf.join(sizes, "lbl")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_rep"),
        col("cluster_size"))
  }

  /** Exact-substring dedup over OVERLAPPING k-token sliding windows — the
    * ExactSubstr recipe of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") at token granularity. The first
    * occurrence of each distinct window (ordered by id, then position) is
    * kept; every later occurrence marks its k covered token positions
    * dropped, and each document is re-emitted with the dropped spans CUT.
    * Documents that lose every position (byte-identical clones of an
    * earlier doc, length >= k) disappear from the output. Unlike
    * [[exactGroups]] (whole-doc) or the d10 passage shape (fixed
    * non-overlapping blocks), this removes repeated spans at ARBITRARY
    * offsets — boilerplate headers, licence blocks, quoted paragraphs —
    * which is what the paper's suffix-array engines exist for.
    *
    * Spark-first instead of a suffix array: one row per window position,
    * first-wins via row_number partitioned by (xxhash64(window), window).
    * The 8-byte hash prefix keeps the sort comparator off the k-token
    * strings for all non-colliding pairs; keeping the full text in the
    * key keeps semantics exact (a hash collision splits nothing — rows
    * only group when the text also matches). Dropped positions explode
    * (dup windows x k, distinct) and anti-join the token stream; AQE
    * broadcasts that side at any realistic dup rate. Every stage shuffles
    * linearly in corpus token count — no all-pairs term anywhere. If the
    * k-token window payload ever dominated the shuffle, it could drop to
    * its rolling hash + an exact verify pass (the d2 optimistic-bound
    * pattern).
    *
    * Output: (doc_id, clean_text, n_kept) — one row per surviving doc.
    */
  def substringDedup(df: DataFrame, textCol: Column, idCol: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // widen (r18): the tokenize + window-explode stage is Generate-
    // position work over documents' unsplittable scan (profiled: one
    // 674 ms task carried the whole Generate at sf0.1) — exactly the
    // Parallelism.widen case; no-op at scale.
    val toks = graft.core.Parallelism.widen(
        df.select(idCol.as("doc_id"), textCol.as("_sd_text")),
        col("doc_id"))
      .select(col("doc_id"),
        filter(split(trim(col("_sd_text")), " +"),
          t => length(t) > 0).as("toks"))
    val pos = toks
      .select(col("doc_id"), posexplode(col("toks")))
      .toDF("doc_id", "idx", "tok")
    val wins = toks
      .select(col("doc_id"),
        // size < k guard: sequence(0, negative) would DESCEND, not vanish
        posexplode(when(size(col("toks")) >= k, transform(
          sequence(lit(0), size(col("toks")) - k),
          p => array_join(slice(col("toks"), p + 1, lit(k)), " ")))
          .otherwise(array())))
      .toDF("doc_id", "p", "wtext")
    val firstOccurrence = Window
      .partitionBy(xxhash64(col("wtext")), col("wtext"))
      .orderBy(col("doc_id"), col("p"))
    val drops = wins
      .withColumn("rn", row_number().over(firstOccurrence))
      .filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + k - 1)).as("idx"))
      .distinct()
    pos
      .join(drops, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(array_sort(collect_list(struct(col("idx"), col("tok"))))
          .getField("tok"), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
  }
}
