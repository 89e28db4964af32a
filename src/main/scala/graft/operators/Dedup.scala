package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Document deduplication operators for training-data pipelines:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Extends the reference's dedup surface (apache/pinot
  * `pinot-segment-local/.../dedup/ConcurrentMapPartitionDedupMetadataManager.java`
  * — exact primary-key dedup) with content-based near-dup detection.
  *
  * Scale design notes (the whole point of these algorithms):
  *  - exact dedup      = hash-groupBy, one shuffle on the content hash.
  *  - Jaccard          = candidate generation via an inverted token index
  *                       with a document-frequency cap (frequent tokens
  *                       generate O(df²) pairs — capping df bounds the
  *                       blow-up, the standard prefix-filter relaxation),
  *                       then exact verification only on candidate pairs.
  *  - MinHash + LSH    = fixed-size signature per doc (shuffle carries
  *                       k longs, never the token sets), banded into
  *                       buckets; only same-bucket pairs are compared.
  *  - SimHash          = single 64-bit fingerprint per doc; near-dups =
  *                       small Hamming distance, found by pigeonhole
  *                       banding of the fingerprint bits.
  * None of these ever materializes the O(n²) pair space.
  */
object Dedup {

  /** Exact dedup groups by content hash. Returns one row per distinct
    * content: (content_hash, keep_id = min id, n_dups). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count("*").as("n_dups"))

  /** Candidate pairs sharing >= 1 "rare" token (document frequency <=
    * dfCap), with exact Jaccard over full distinct-token sets computed
    * only for those pairs. Returns (id_a, id_b, jaccard) with id_a < id_b
    * and jaccard >= threshold. */
  def tokenJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      dfCap: Long = 100): DataFrame = {

    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
    val inv = toks.select(col("id"), explode(col("toks")).as("tok"))
    // document-frequency cap: drop tokens too common to be discriminative
    val rare = inv.groupBy("tok").agg(count("*").as("df"), collect_list("id").as("ids"))
      .filter(col("df") <= dfCap)
    // same-token pairs from the inverted index (distinct across tokens)
    val cand = rare.select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b")).distinct()

    val ta = toks.select(col("id").as("a"), col("toks").as("toks_a"))
    val tb = toks.select(col("id").as("b"), col("toks").as("toks_b"))
    cand.join(ta, "a").join(tb, "b")
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("double"))
      .withColumn("uni", (size(col("toks_a")) + size(col("toks_b"))).cast("double") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("jaccard"))
  }

  /** DIRECTED containment near-dup pairs [Broder 1997, c(A,B) =
    * |A∩B| / |A|]: catches quotes and subsets that symmetric Jaccard
    * structurally misses — a snippet inside an article has J ≈
    * |A|/|B| ≈ 0 but c ≈ 1. Same df-capped inverted-index candidate
    * generation as [[tokenJaccard]] (same documented recall
    * relaxation), exact containment verified per candidate, emitted in
    * the (contained → container) direction. */
  def tokenContainment(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      dfCap: Long = 100): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
    val inv = toks.select(col("id"), explode(col("toks")).as("tok"))
    val rare = inv.groupBy("tok")
      .agg(count("*").as("df"), collect_list("id").as("ids"))
      .filter(col("df") <= dfCap)
    val cand = rare.select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val ta = toks.select(col("id").as("a"), col("toks").as("toks_a"))
    val tb = toks.select(col("id").as("b"), col("toks").as("toks_b"))
    cand.join(ta, "a").join(tb, "b")
      .withColumn("containment",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(col("toks_a")))
      .filter(col("containment") >= threshold)
      .select(col("a").as("contained_id"), col("b").as("container_id"),
        col("containment"))
  }

  /** EXACT threshold-Jaccard pairs via positional prefix filtering
    * (AllPairs/PPJoin): tokens globally ordered by (document frequency,
    * token); a doc's prefix is its |d| - ceil(t*|d|) + 1 rarest tokens.
    * Any pair with J >= t must share a prefix token (i >= t*max(|a|,|b|)
    * under the consistent order), so joining prefix-to-prefix is
    * COMPLETE — unlike the df-cap relaxation above — while candidates
    * stay bounded: frequent tokens fall outside short prefixes.
    * Exact Jaccard is then verified per candidate pair. */
  def tokenJaccardExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double): DataFrame = {
    // Work over 64-bit token hashes, not strings: |distinct hashes| ==
    // |distinct tokens| (a cross-set xxhash64 collision, p ~ 1e-10 per
    // candidate pair, would perturb one jaccard value and be caught by
    // the brute-force oracle), longs intersect ~4x cheaper, and the
    // inverted-index shuffle carries 8-byte keys instead of strings.
    // Materialize the tokenized corpus ONCE: four consumers need it
    // (the inverted index, the df table behind it, and both sides of
    // the verification join) and lazy lineage would re-tokenize for
    // each. At cluster scale this IS the PPJoin recipe — write the
    // hashed token sets out, then index/join against the stored form.
    // SORTED distinct hashes (r14): sorting once per doc lets the
    // verification count intersections with an allocation-free merge
    // loop (SetExpressions.sortedIntersectCount — codegen'd) instead
    // of a hash set per candidate pair; set semantics are unchanged.
    // r15: scan-parallelism guard — the tokenize+hash+sort runs on the
    // raw scan BEFORE the checkpoint, and the checkpoint inherits the
    // scan's partitioning, so on a single-row-group input the whole
    // prefix pipeline (and every consumer until the first exchange)
    // was single-task. Identity on properly-split input.
    val toks = Parallelism.ensure(docs, idCol)
      .select(col(idCol).as("id"),
      array_sort(array_distinct(transform(
        TextFunctions.tokens(lower(col(textCol))), t => xxhash64(t))))
        .as("toks"))
      .localCheckpoint()
    val inv = toks.select(col("id"), size(col("toks")).as("sz"),
      explode(col("toks")).as("tok"))
    val dfreq = inv.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df").asc, col("tok").asc)
    val prefix = inv.join(dfreq, "tok")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("sz"), col("rn"), col("tok"))

    // canonically-identical self-join sides -> ReuseExchange runs the
    // prefix pipeline once (see minhashLsh for the rationale).
    // r14 perf: two COMPLETE pruning filters run on the joined token
    // rows BEFORE the pair-distinct shuffle and the verification join
    // (classic AllPairs/PPJoin):
    //  - length filter: J >= t forces min(|a|,|b|) >= t*max(|a|,|b|);
    //  - positional filter: a shared prefix token at positions
    //    (rn_a, rn_b) bounds the overlap by min(rn_a, rn_b) +
    //    min(|a|-rn_a, |b|-rn_b), which must reach t/(1+t)*(|a|+|b|)
    //    (inter >= t*(|a|+|b|)/(1+t) iff J >= t). Both only drop pairs
    //    that provably cannot reach the threshold, so the verified
    //    output is identical.
    val interBound = (least(col("l.rn"), col("r.rn")) +
      least(col("l.sz") - col("l.rn"), col("r.sz") - col("r.rn")))
      .cast("double")
    val cand = prefix.as("l").hint("shuffle_hash")
      .join(prefix.as("r"), col("l.tok") === col("r.tok"))
      .filter(col("l.id") < col("r.id"))
      .filter(least(col("l.sz"), col("r.sz")).cast("double") >=
        lit(threshold) * greatest(col("l.sz"), col("r.sz")).cast("double"))
      // ADVICE r14: avoid the Scala-side threshold/(1+threshold)
      // division — its extra fp rounding could in principle prune an
      // exact-tie pair the verification would accept. The multiplied
      // form matches the algebraic derivation with one fewer rounding:
      // inter >= t/(1+t)·(|a|+|b|)  ⟺  inter·(1+t) >= t·(|a|+|b|).
      .filter(interBound * lit(1 + threshold) >=
        lit(threshold) * (col("l.sz") + col("r.sz")).cast("double"))
      .select(col("l.id").as("a"), col("r.id").as("b")).distinct()

    val ta = toks.select(col("id").as("a"), col("toks").as("toks_a"),
      size(col("toks")).as("sz_a"))
    val tb = toks.select(col("id").as("b"), col("toks").as("toks_b"),
      size(col("toks")).as("sz_b"))
    // doc-count × avg-set-size hash arrays — megabytes against the
    // candidate-pair stream's quadratic-ish growth: broadcast both
    // sides so verification never shuffles the pair stream
    cand.join(broadcast(ta), "a").join(broadcast(tb), "b")
      // length filter (AllPairs): jaccard >= t forces min/max size >= t,
      // pruning BEFORE the O(|a|+|b|) intersect runs
      .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
      .withColumn("inter", graft.plans.SetExpressions
        .sortedIntersectCount(col("toks_a"), col("toks_b")).cast("double"))
      .withColumn("uni", (col("sz_a") + col("sz_b")).cast("double") - col("inter"))
      .withColumn("jaccard", col("inter") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("jaccard"))
  }

  /** Deterministic 64-bit hash of a string, seed-parameterized: feeding
    * the seed as an extra hashed column gives an independent-enough hash
    * family for MinHash. Pure Catalyst expression — codegen'd. */
  private def hash64(c: Column, seed: Int): Column =
    xxhash64(lit(seed), c)

  /** Per-row array of 64-bit shingle hashes. Hash chain: h_i =
    * xxhash64(token_i); shingle_i = xxhash64(h_i, …, h_{i+k-1}) —
    * identical values to the historical posexplode + lead() window
    * form, but computed MAP-SIDE: the token-hash array is bound once
    * per row ([[TextFunctions.bound]] — element_at against a lambda
    * variable is O(1)), so no (id, pos) shuffle + per-doc sort is
    * needed to line up neighbors (r14, guide §2.4: remove shuffles
    * outright; signature checksums verified bit-identical). Docs with
    * fewer than k tokens yield an empty array. */
  private def shingleHashArray(text: Column, k: Int): Column =
    TextFunctions.bound(
      transform(TextFunctions.tokens(lower(text)), t => xxhash64(t))) { hs =>
      if (k == 1) hs
      else when(size(hs) >= k,
        transform(sequence(lit(1), size(hs) - (k - 1)),
          i => xxhash64((0 until k).map(j => element_at(hs, i + j)): _*)))
        .otherwise(array().cast("array<long>"))
    }

  /** MinHash signatures over word shingles: k independent permutations
    * approximated by seeded hashes; signature[i] = min over shingles.
    *
    * Shape: per-row shingle hashes ([[shingleHashArray]] — map-only),
    * explode, then ONE hash-aggregate with k plain `min` aggregates
    * (all whole-stage-codegen'd). A k-wide HOF expression per row
    * would blow past the codegen method limit and fall back to
    * interpreted eval — this shape stays compiled and shuffles only
    * (id, shingle-hash) pairs, ONE shuffle end-to-end. Duplicate
    * shingles need no dedup: min() over a multiset equals min() over
    * its set. */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      shingleSize: Int = 3): DataFrame = {
    val exploded = Parallelism.ensure(docs, idCol)
      .select(col(idCol).as("id"),
        explode(shingleHashArray(col(textCol), shingleSize)).as("h0"))
    val mins = (0 until numHashes).map(i => min(hash64(col("h0"), i)).as(s"h$i"))
    exploded.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"))
  }

  /** Per-doc DISTINCT shingle-hash arrays — the exact-set counterpart
    * of [[minhashSignatures]]. r14: pure map-side ([[shingleHashArray]]
    * + array_distinct per row) — the historical posexplode + lead()
    * window + collect_list shape paid a full (id, pos) shuffle, a
    * per-doc sort, AND a collect shuffle for the same sets. Docs with
    * fewer than shingleSize tokens are omitted (as before).
    * Returns (idCol, sh: array<long>). */
  def shingleHashSets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame =
    docs.select(col(idCol),
        array_sort(array_distinct(shingleHashArray(col(textCol), shingleSize)))
          .as("sh"))
      .filter(size(col("sh")) > 0)

  /** Exploded (id, shingle-hash) stream — [[shingleHashSets]] for
    * consumers that immediately explode (decontamination): per-doc
    * distinct but UNSORTED, since a row stream has no use for the
    * sort the set form pays for its merge-intersects (r14: the sort
    * showed up as a measurable regression on q_decontaminate). */
  def shingleHashStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame =
    Parallelism.ensure(docs, idCol).select(col(idCol),
      explode(array_distinct(shingleHashArray(col(textCol), shingleSize)))
        .as("sh"))

  /** MinHash + LSH near-dup candidate pairs: band the signature, bucket
    * by (band index, band hash), pair within buckets, then estimate
    * similarity as the fraction of matching signature positions.
    * Returns (id_a, id_b, est_jaccard >= threshold). */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sigs = minhashSignatures(docs, idCol, textCol, numHashes, shingleSize)

    val bandHashes = array((0 until bands).map { b =>
      hash(slice(col("signature"), b * rows + 1, rows), lit(b))
    }: _*)
    val banded = sigs.select(col("id"), col("signature"),
      posexplode(bandHashes).as(Seq("band", "bucket")))

    // Self-join with BOTH sides left canonically identical up to the
    // exchange (same projection, same (band, bucket) keys): Spark's
    // ReuseExchange then runs the whole signature pipeline ONCE and
    // reads the single shuffle twice — the map side of LSH is the
    // expensive half, so this halves the job. The shuffle_hash hint
    // keeps it a shuffle join (a broadcast side would re-execute the
    // pipeline instead of reusing the exchange); at corpus scale both
    // sides are huge and SHJ is the right join anyway.
    // est_jaccard is computed BEFORE the pair-dedup: a pair surfacing in
    // several bands recomputes the (codegen'd) position-match cheaply,
    // but the distinct's exchange then carries 3 scalars per pair
    // instead of two full k-long signatures.
    banded.as("l").hint("shuffle_hash")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .filter(col("l.id") < col("r.id"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("l.signature"), col("r.signature"), (x, y) => x === y), m => m))
          .cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("est_jaccard")).distinct()
  }

  /** Incremental near-dup: LSH-join a NEW batch of documents against a
    * pre-built corpus signature table ([[minhashSignatures]] output the
    * pipeline stores alongside the corpus) — the daily-crawl shape:
    * only the increment is shingled and hashed; the existing corpus is
    * touched through its fixed-size signatures alone, never re-read as
    * text. Asymmetric join, no self-join: candidate buckets come from
    * the same banding as [[minhashLsh]], so an (increment, corpus)
    * pair surfaces iff the symmetric batch run would have found it.
    * At scale the increment side is small — AQE broadcasts its banded
    * buckets and the corpus signature table is never shuffled.
    * Returns (new_id, corpus_id, est_jaccard >= threshold). */
  def minhashLshAgainst(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpusSigs: DataFrame,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    def banded(sigs: DataFrame): DataFrame = {
      val bandHashes = array((0 until bands).map { b =>
        hash(slice(col("signature"), b * rows + 1, rows), lit(b))
      }: _*)
      sigs.select(col("id"), col("signature"),
        posexplode(bandHashes).as(Seq("band", "bucket")))
    }
    val nb = banded(minhashSignatures(newDocs, idCol, textCol,
      numHashes, shingleSize))
    val cb = banded(corpusSigs)
    nb.as("l")
      .join(cb.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .filter(col("l.id") =!= col("r.id"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("l.signature"), col("r.signature"),
          (x, y) => x === y), m => m))
          .cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("l.id").as("new_id"), col("r.id").as("corpus_id"),
        col("est_jaccard")).distinct()
  }

  /** 64-bit SimHash over distinct tokens: bit j of the fingerprint is the
    * sign of the sum over tokens of (bit j of token-hash ? +1 : -1).
    *
    * Shape: explode distinct tokens, ONE hash-aggregate computing the
    * 64 per-bit one-counts (plain sums — codegen'd) + the token count;
    * bit j is set iff ones_j * 2 > n (vote = 2*ones - n > 0). Never
    * builds a 64-wide HOF tree per row. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r15: scan-parallelism guard — tokenize + explode + the 16-lane
    // partial sums below all run inside the scan stage, single-task on
    // a single-row-group input (identity on properly-split input)
    val exploded = Parallelism.ensure(docs, idCol)
      .select(col(idCol).as("id"),
        explode(TextFunctions.tokenSet(col(textCol))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    // lane packing: 4 bit-counters per long in 16-bit lanes — 16 sum
    // aggregates instead of 64, same counts (safe below 65536 distinct
    // tokens per doc; enforced by the guard column).
    val laneSums = (0 until 16).map { g =>
      val term = (0 until 4).foldLeft(lit(0L)) { (acc, lane) =>
        val j = g * 4 + lane
        acc + shiftleft(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)), 16 * lane)
      }
      sum(term).as(s"g$g")
    }
    val counted = exploded.groupBy(col("id"))
      .agg(laneSums.head, (laneSums.tail :+ count(lit(1)).as("n")): _*)
      .withColumn("__guard",
        when(col("n") >= 65536, raise_error(lit("simhash: doc exceeds 65535 tokens")))
          .otherwise(lit(0)))
    val fp = (0 until 64).foldLeft(lit(0L)) { (acc, j) =>
      val cnt = shiftrightunsigned(col(s"g${j / 4}"), 16 * (j % 4))
        .bitwiseAND(lit(0xFFFFL))
      acc.bitwiseOR(
        when(cnt * 2 > col("n"), shiftleft(lit(1L), j)).otherwise(lit(0L)))
    }
    counted.select(col("id"), (fp + col("__guard")).as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH candidate
    * generation (Similarity's signature machinery) + exact cosine
    * verification — semantic near-dups that token methods miss.
    * Returns (id_a, id_b, cos_sim >= threshold), id_a < id_b. */
  /** @param bits total signature bits; <= 0 (the default) sizes the
    *   per-band key width from the corpus so bucket sizes stay bounded
    *   (`width = log2(n / 1024)`, floor 4) — a FIXED width makes each
    *   band bucket n/2^width rows and the bucket self-join quadratic
    *   in corpus size (181× wall at 100× data, measured — PLANS.md
    *   round 6). Wider keys trade recall for boundedness exactly as
    *   LSH theory prescribes (collision prob p^width per band); the
    *   near-dup regime (cos ≳ 0.95, p ≳ 0.9) keeps multi-band recall
    *   high at any width this rule produces. */
  def embeddingNearDups(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 0,
      bands: Int = 4): DataFrame = {
    val width =
      if (bits > 0) { require(bits % bands == 0); bits / bands }
      else math.min(64 / bands, math.max(4,
        math.ceil(math.log(corpusCount(corpus).toDouble / 1024.0) /
          math.log(2.0)).toInt))
    val nBits = width * bands
    val sigs = Similarity.withHyperplaneSignature(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), "id",
      "vec", nBits)
    val bandKeys = array((0 until bands).map { b =>
      shiftrightunsigned(col("__sig"), b * width).bitwiseAND(lit((1L << width) - 1))
    }: _*)
    val banded = sigs.select(col("id"), col("vec"),
      posexplode(bandKeys).as(Seq("band", "key")))
    // Canonically-identical self-join sides -> ReuseExchange computes the
    // hyperplane signatures once (see minhashLsh for the full rationale).
    // cosine before the pair-dedup: the distinct's exchange carries
    // (id, id, sim) scalars, never the two embedding vectors.
    banded.as("l").hint("shuffle_hash")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .filter(col("l.id") < col("r.id"))
      .withColumn("cos_sim", graft.plans.VectorExpressions
        .cosineSimilarity(col("l.vec"), col("r.vec")))
      .filter(col("cos_sim") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("cos_sim")).distinct()
  }

  /** Hamming distance between two int64 fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance <= maxDist, found by
    * pigeonhole banding: split 64 bits into (maxDist+1) bands — any pair
    * within maxDist must agree exactly on >= 1 band. */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame =
    fingerprintPairs(
      simhash(docs, idCol, textCol), "id", "simhash", maxDist)

  /** Near-dup pairs over ANY 64-bit fingerprint column (SimHash, image
    * dHash, audio fingerprints …) with hamming distance <= maxDist via
    * pigeonhole banding: split 64 bits into (maxDist+1) bands — any
    * pair within maxDist must agree exactly on >= 1 band, so the
    * banded equi-self-join bounds candidates and the exact hamming
    * filter runs only on them. Canonically-identical self-join sides →
    * ReuseExchange computes the fingerprints once. */
  def fingerprintPairs(
      fps0: DataFrame,
      idCol: String,
      fpCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // bands capped at 64 (one bit each) — more can't pigeonhole 64 bits.
    val bands = math.min(maxDist + 1, 64)
    val width = 64 / bands
    // JVM `1L << 64 == 1L`, so the single-band (maxDist=0) mask must be
    // special-cased to all-ones or every row lands in band key 0 and the
    // banded self-join degenerates into an all-pairs cross.
    val mask = if (width == 64) -1L else (1L << width) - 1
    val fps = fps0.select(col(idCol).as("id"), col(fpCol).as("__fp"))
      .filter(col("__fp").isNotNull)
    val bandKeys = array((0 until bands).map { b =>
      shiftrightunsigned(col("__fp"), b * width).bitwiseAND(lit(mask))
    }: _*)
    val banded = fps.select(col("id"), col("__fp"),
      posexplode(bandKeys).as(Seq("band", "key")))
    // hamming before the pair-dedup: filtering to dist <= maxDist first
    // shrinks the distinct's input to true near-dups only.
    banded.as("l").hint("shuffle_hash")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .filter(col("l.id") < col("r.id"))
      .withColumn("dist", hamming(col("l.__fp"), col("r.__fp")))
      .filter(col("dist") <= maxDist)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("dist")).distinct()
  }

  /** Connected components over an undirected duplicate-pair graph:
    * (id, comp) where comp = min node id in the component. This is the
    * missing last step of every near-dup pipeline — pair emitters
    * (tokenJaccard / minhashLsh / simhashPairs / embeddingNearDups)
    * find EDGES, but "keep one copy" is defined per duplicate CLUSTER,
    * and transitive closure is what turns edges into clusters.
    *
    * Algorithm: iterative min-label propagation with pointer jumping
    * (label(x) <- min over neighbors, then label(x) <- label(label(x))),
    * the dataframe form of hash-to-min [Rastogi et al. 2012; see also
    * Kiveris et al., "Connected Components in MapReduce and Beyond"].
    * Each round is two shuffles (one neighbor groupBy, one label
    * self-join); pointer jumping makes convergence O(log d) rounds in
    * the component diameter d, not O(d). Labels are localCheckpoint()ed
    * per round — mandatory in iterative Spark, otherwise the lineage
    * (and thus every stage DAG) doubles each round. Near-dup graphs
    * from banded LSH are unions of near-cliques, so in practice this
    * converges in 2-3 rounds; maxIters is a safety bound, hit only by
    * adversarial path-shaped graphs ~2^maxIters nodes long. */
  def components(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIters: Int = 25,
      driverEdgeLimit: Long = 1L << 20): DataFrame = {
    // r14 perf: canonical (min,max) edge set, size gate via one
    // limit()+collect instead of a count() job.
    // r15: the localCheckpoint moved OFF the driver path — the
    // checkpoint materialization job only pays for itself when the
    // distributed loop re-reads the edges across iterations; on the
    // common driver-union-find path (every near-dup pipeline at sane
    // pair counts) the single limit+collect IS the only consumer, so
    // the eager materialization was a whole wasted pass over the edge
    // pipeline. The distributed fallback checkpoints below, unchanged.
    // Clamp the Long limit before adding 1 and before toInt: at
    // driverEdgeLimit = Long.MaxValue the sum would wrap negative,
    // giving limit(0), an empty probe and an empty result.
    val canon = pairs.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("src"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("dst"))
      .distinct()
    val probe = canon
      .limit(math.min(driverEdgeLimit, Int.MaxValue - 1L).toInt + 1)
      .collect()
    if (probe.length <= driverEdgeLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = probe.filter(r => r.getLong(0) < r.getLong(1))
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // union by min id so the root IS the component label
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
      return nodes.map(n => (n, find(n))).toDF("id", "comp")
    }
    // distributed path: checkpoint the canonical edges once (they are
    // re-read every propagation round), then mirror them into both
    // directions (no re-distinct — min-label propagation is
    // duplicate-insensitive, and the only duplicates are self-loops)
    val canonCk = canon.localCheckpoint()
    val edges = canonCk.union(
      canonCk.select(col("dst").as("src"), col("src").as("dst")))
    // init at the NEIGHBORHOOD min, not the node id: one groupBy that
    // the first propagation round would do anyway, folded into init —
    // near-clique components (the LSH output shape) converge here, so
    // the loop body runs once just to confirm the fixpoint
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("id"), least(col("id"), col("__mn")).as("comp"))
      .localCheckpoint()
    // convergence tracker: per-node labels only ever DECREASE, so the
    // global label sum is strictly monotone until fixpoint — comparing
    // sums replaces a join-with-previous-labels with one tiny aggregate
    def labelSum(l: DataFrame): Long =
      l.agg(sum(col("comp"))).head().getLong(0)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("pcomp"))
      // checkpoint before the pointer-jump self-join: both sides read
      // `stepped`, and un-materialized it would evaluate the whole
      // propagation chain twice per round
      val stepped = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"))
        .localCheckpoint()
      // pointer jumping: follow the label one hop (comp is itself a node
      // id, so look up ITS current label and adopt it)
      val jumped = stepped.as("x")
        .join(stepped.select(col("id").as("jid"), col("comp").as("jcomp")).as("j"),
          col("x.comp") === col("j.jid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("jcomp"), col("x.comp")).as("comp"))
        .localCheckpoint()
      val s = labelSum(jumped)
      converged = s == prevSum
      prevSum = s
      labels = jumped
      it += 1
    }
    labels
  }

  /** SemDeDup-style semantic near-dup pairs [Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"]: partition the embedding space with the IVF coarse
    * quantizer (k-means, [[IvfIndex.build]]), then compare pairs ONLY
    * within each cell — exact cosine, so precision is 1.0 by
    * construction and the approximation is recall on pairs that
    * straddle a cell boundary. Cell-scoped all-pairs is the published
    * algorithm's definition, and the scale contract: k grows with the
    * corpus (n/k bounded), the cell id becomes a partition column, and
    * the self-join is partition-local — the O(n²) global pair space is
    * never touched. Returns (id_a, id_b, cosine). */
  /** Cells for a corpus of n vectors: pairs-per-cell stays bounded
    * (~2M at the 2048 target), so the total pair count grows LINEARLY
    * with the corpus — the published contract ("k grows with the
    * corpus"). A fixed k would make each cell's self-join quadratic in
    * corpus size: at 100× data that is a 241×-wall (measured,
    * PLANS.md round 6) — exactly the failure mode this bound exists
    * to prevent. */
  private def autoCells(n: Long): Int =
    math.max(8, math.ceil(n.toDouble / 2048).toInt)

  /** Corpus row count, memoized per canonical plan (IndexCache): the
    * auto-sizing rules need it once per corpus, not once per query —
    * an ingest-time statistic, like the reference's segment metadata. */
  private def corpusCount(df: DataFrame): Long =
    IndexCache.getOrBuild(("count",
      df.queryExecution.analyzed.canonicalized))(
      java.lang.Long.valueOf(df.count())).longValue()

  /** @param k IVF cell count; <= 0 (the default) sizes the cell count
    *   from the corpus (`autoCells`) so pairs-per-cell stays bounded
    *   at any scale. */
  def semanticPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int = 0, threshold: Double = 0.9): DataFrame = {
    val cells = if (k > 0) k else autoCells(corpusCount(embeddings))
    val a = IvfIndex.build(embeddings, idCol, vecCol, cells).assignments
    a.as("l").hint("shuffle_hash")
      .join(a.as("r"), col("l.cell") === col("r.cell"))
      .filter(col("l.id") < col("r.id"))
      .withColumn("cosine", graft.plans.VectorExpressions
        .cosineSimilarity(col("l.vec"), col("r.vec")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("cosine"))
  }

  /** Full semantic dedup: cluster-scoped cosine pairs -> transitive
    * closure -> keep the min-id representative of each duplicate group.
    * The end-to-end SemDeDup pass a training pipeline runs. */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int = 0, threshold: Double = 0.9): DataFrame =
    keepRepresentatives(embeddings, idCol,
      semanticPairs(embeddings, idCol, vecCol, k, threshold))

  /** Keep-one-per-cluster dedup: drops every doc that is a non-minimal
    * member of a duplicate component. Docs with no near-dup pair are
    * untouched (they never enter the edge set). One anti-join over the
    * (tiny relative to the corpus) non-representative set. */
  def keepRepresentatives(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val drop = components(pairs, aCol, bCol)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** [[keepRepresentatives]] with an explicit PREFERENCE: keep the
    * cluster member with the HIGHEST `preference(docs-row)` (ties to
    * smallest id) instead of the smallest id — production pipelines
    * keep the longest text or the highest quality score, not an
    * arbitrary member. One extra shuffle over the clustered ids only
    * (docs outside any cluster never enter the window). */
  def keepRepresentativesBy(docs: DataFrame, idCol: String,
      pairs: DataFrame, preference: Column,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("comp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp"))
      .orderBy(preference.desc, col(idCol).asc)
    val drop = docs.join(comp, idCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** LINE-level boilerplate dedup (the C4 / RefinedWeb cleaning step):
    * a line whose normalized form appears in >= minDocFreq DISTINCT
    * documents corpus-wide (navigation chrome, cookie banners, license
    * headers) is removed from EVERY document, and each document's text
    * is reassembled from its surviving lines in original order.
    *
    * Input is a pre-split lines table (idCol, lineNoCol, lineCol) so
    * the caller owns the line definition (\n split, sentence split,
    * fixed-width chunks for unstructured text).
    *
    * Scale shape: (1) distinct (doc, line-hash) then count per hash —
    * two map-combinable shuffles carrying a 128-bit hash, never the
    * line text twice; (2) the frequent-line set joined back is tiny
    * relative to the corpus (boilerplate is by definition a small
    * distinct set), so AQE broadcasts it; (3) one groupBy doc to
    * reassemble. No stage is quadratic and no partition holds more
    * than one document's lines at reassembly.
    *
    * Returns (idCol, n_lines, n_kept, text_clean). */
  /** Exact duplicated-substring removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr dedup the big open corpora run, usually at 50-token
    * granularity): every k-token window whose text occurs at more than
    * one (doc, position) is a duplicated span; all occurrences except
    * the globally-first (ordered by doc id, then position) have their
    * tokens removed, and each document is reassembled from its
    * surviving tokens.
    *
    * Spark shape (no suffix array; the same result by relational
    * means — exactness is per-window text equality):
    *   1. posexplode tokens, one row per (doc, pos);
    *   2. per position, the k-token window's md5 (bounded shuffle key;
    *      md5 is engine-portable so the DuckDB oracle can recompute);
    *   3. one groupBy window-hash: occurrence count + global first
    *      occurrence;
    *   4. every non-first occurrence explodes to its covered token
    *      positions (sequence(pos, pos+k-1)); distinct (doc, pos)
    *      anti-joins the token stream;
    *   5. reassemble surviving tokens in order.
    *
    * Scale: work is O(total tokens · k) map-side plus two shuffles
    * (window groupBy, doc reassembly) — never pairwise in documents.
    * Returns (id, n_tokens, n_removed, text_clean). */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // r14 perf: tokenize ONCE (two consumers — the window-hash branch
    // and the reassembly branch — re-ran the regex split before), and
    // shuffle the window key as the 16-byte unhex(md5) binary instead
    // of the 32-char hex string (same 128-bit value, same collisions
    // as the oracle's md5 — the key is internal, never output).
    // r15 scale audit: per-doc token ARRAYS ≈ 1.2× corpus bytes on
    // executor-local disk (arrays, not exploded rows), lineage cut.
    // Cheapest of the three corpus-scale checkpoints and feeds two
    // full consumers (window hashing + reassembly) that would each
    // re-tokenize; keep, with the same 100 TB disk-budget caveat as
    // Curation.unigramScore.
    val toks = Parallelism.ensure(docs, idCol)
      .select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      .localCheckpoint()
    val winHash = toks.select(col(idCol),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")),
        size(col("__toks")).as("__n"),
        unhex(md5(array_join(slice(col("__toks"), col("__pos") + 1, lit(k)),
          " "))).as("__wh"))
      .filter(col("__pos") + k <= col("__n"))
      .select(col(idCol), col("__pos"), col("__wh"))
    // global first occurrence per duplicated window text.
    // r15 (round-14 verdict #3): the row_number()+count() window pair
    // forced a full SORT of every (doc, pos, hash) row by __wh before
    // either window ran (OpProbe: 642 ms sortTime of the 2.0 s wall at
    // sf0.1). The first occurrence is just min(doc, pos) per hash and
    // "non-first occurrence of a duplicated hash" needs no ranking —
    // ONE hash aggregate (same single shuffle, no sort) collects each
    // hash's occurrence list; array_min is the global first by
    // (doc, pos), and every other element is a removal candidate.
    // (doc, pos) is unique, so exactly one element equals the min —
    // identical row set to the old rk>1 ∧ cnt>1 filter.
    val dupOccurrences = winHash
      .groupBy(col("__wh"))
      .agg(collect_list(struct(col(idCol), col("__pos"))).as("__occ"))
      .filter(size(col("__occ")) > 1)
      .select(array_min(col("__occ")).as("__first"),
        explode(col("__occ")).as("__o"))
      .filter(col("__o") =!= col("__first"))
    // r15: MAP-SIDE reassembly. The old shape re-exploded every token
    // WITH its string, broadcast-joined the removal markers, and
    // re-collected each document through a groupBy(id) exchange + an
    // array_sort of (pos, token) structs — shuffling the whole corpus
    // text once just to put tokens back in the order the checkpointed
    // arrays already hold. Instead: aggregate the removed POSITIONS to
    // one sorted int array per affected doc (tiny — only duplicated
    // spans), join that onto the token arrays (AQE: broadcast locally,
    // sort-merge if the removal table ever outgrows it), and stitch
    // text_clean from the kept SEGMENTS between removals with an
    // indexed transform — O(n + |removals|) per doc, no fold, no
    // quadratic append. Segment i spans [prev_removed+1, next_removed)
    // in 0-based token positions; empty segments (adjacent removals)
    // join to "" and are filtered before the final join, so the output
    // string is character-identical to the old kept-token join.
    val removedByDoc = dupOccurrences
      .select(col("__o").getField(idCol).as(idCol),
        explode(sequence(col("__o").getField("__pos"),
          col("__o").getField("__pos") + (k - 1))).as("__pos"))
      .distinct()
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("__pos"))).as("__rp"))
    val tl = col("__toks"); val rp = col("__rp")
    val segments = transform(sequence(lit(0), size(rp)), i => {
      val start0 = when(i === 0, lit(0))
        .otherwise(element_at(rp, i) + 1)
      val end0 = when(i === size(rp), size(tl))
        .otherwise(element_at(rp, i + 1))
      array_join(slice(tl, start0 + 1, end0 - start0), " ")
    })
    toks
      // docs with zero tokens produced no (id, pos) rows before —
      // identical output universe
      .filter(size(col("__toks")) > 0)
      .join(removedByDoc, Seq(idCol), "left")
      .select(col(idCol),
        size(tl).cast("long").as("n_tokens"),
        coalesce(size(rp), lit(0)).cast("long").as("n_removed"),
        when(rp.isNull, array_join(tl, " "))
          .otherwise(array_join(filter(segments, s => s =!= ""), " "))
          .as("text_clean"))
  }

  def lineDedup(lines: DataFrame, idCol: String, lineNoCol: String,
      lineCol: String, minDocFreq: Int, delim: String = " "): DataFrame = {
    // 16-byte binary key (internal; same 128-bit md5 value) — r14
    val h = unhex(md5(trim(lower(col(lineCol)))))
    val withH = lines.select(
      col(idCol), col(lineNoCol), col(lineCol), h.as("__lh"))
    val frequent = withH.select(col(idCol), col("__lh")).distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select(col("__lh"), lit(true).as("__boiler"))
    withH.join(frequent, Seq("__lh"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("__boiler").isNull, lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__boiler").isNull,
              struct(col(lineNoCol).as("n"), col(lineCol).as("l"))))),
            x => x("l")),
          delim).as("text_clean"))
  }
}
