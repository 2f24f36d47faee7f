package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Deduplication operators (SURVEY §2 D1/D2), each designed as shuffle-native
  * DataFrame transforms with no driver-side materialization:
  *
  *   - exact: hash-groupBy keeping the min-tiebreaker row (2-phase agg);
  *   - n-gram Jaccard: token-postings self-join — the classic inverted-index
  *     pair generation; skew-guarded by a document-frequency cap;
  *   - MinHash-LSH: signature → banded bucket join → verified candidates →
  *     connected components (no collect): union-find in one task when the
  *     edges fit one partition, else min-label propagation to convergence;
  *   - SimHash: 60-bit md5-derived signature, oracle-checkable.
  */
object Dedup {

  /** D1: exact dedup on `keys`, keeping the row with the smallest `tie`.
    * groupBy + min_by(struct) = partial-aggregated, one shuffle on the key
    * hash — at 100 TB this is the cheapest possible exact dedup.
    */
  def exactDedup(df: DataFrame, keys: Seq[String], tie: String): DataFrame = {
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(min_by(all, col(tie)).as("_r"))
      .select("_r.*")
  }

  /** Exact dedup keyed by md5 digest instead of the raw columns: at corpus
    * scale the shuffle ships 16-byte digests, not multi-KB documents.
    * 128-bit collisions are below hardware-error rates (the standard
    * content-addressing argument); use [[exactDedup]] when byte-exact key
    * comparison is required.
    */
  def exactDedupByDigest(df: DataFrame, keys: Seq[String], tie: String): DataFrame = {
    // to_json(struct) is injective over the key tuple: fields are named and
    // null columns are dropped WITH their names, so ('a',NULL,'b') and
    // ('a','b',NULL) serialize differently (concat-style encodings collapse
    // them), and delimiter bytes inside values are JSON-escaped.
    val digest = md5(to_binary(to_json(struct(keys.map(col).toIndexedSeq: _*)), lit("utf-8")))
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(digest.as("_d"))
      .agg(min_by(all, col(tie)).as("_r"))
      .select("_r.*")
  }

  /** Text normalization for "fuzzy-exact" dedup — the Dolma/C4-style
    * normalize-then-hash recipe: lowercase, non-alphanumeric runs to a
    * single space, trimmed. Catches re-crawls that differ only in case,
    * punctuation, or whitespace, which byte-exact dedup misses; map-only,
    * so the only cost over byte-exact dedup is the regex pass.
    */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  def normalizedTextSql(t: String): String =
    s"trim(regexp_replace(lower($t), '[^a-z0-9]+', ' ', 'g'))"

  /** Distinct (doc, 3-gram shingle) postings. Shingles — not unigrams — are
    * the unit: natural-language vocabularies are small and every word is hot
    * (a token present in 1M docs creates 10^12 join pairs), while shingle
    * document-frequency stays low, so the self-join fans out linearly.
    * `maxDocFreq` additionally drops boilerplate shingles (the residual skew
    * guard at corpus scale). 0 = uncapped (oracle parity).
    */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String, maxDocFreq: Long = 0L): DataFrame = {
    // two-phase: materialize the token array, THEN build shingles from it —
    // a lambda that references tokens(text) directly re-runs the regex split
    // per element (no CSE through higher-order functions), turning shingle
    // construction quadratic in document length.
    //
    // The posting key is xxhash64(shingle), not the shingle string: every
    // consumer (jaccard self-join, df aggregate, decontamination join) only
    // ever compares shingles for EQUALITY and none emits the string, so an
    // 8-byte key halves-or-better every downstream shuffle row vs a ~25-byte
    // 3-word string (measured −7 GB at the 700× stress point). Semantics are
    // identical unless two distinct shingles in the same comparison collide
    // at 64 bits (~n²/2⁶⁵ — vanishing at any corpus size; the DuckDB oracles
    // keep plain string shingles and stay hash-identical at the oracle SFs).
    // fused per-shingle hashing (TokenWindowHashExpr, k = 3): bit-identical
    // to array_distinct(transform(shinglesFromTokens(toks), xxhash64)) —
    // distinct applies to the hash array either way — without the
    // per-shingle concat allocations
    val posts = docs
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc"),
        explode(array_distinct(TextAnalysis.windowHashes(col("_toks"), 3))).as("w"))
    if (maxDocFreq <= 0) posts
    else {
      val hot = posts.groupBy("w").agg(count(lit(1)).as("df")).filter(col("df") > maxDocFreq)
      posts.join(broadcast(hot), Seq("w"), "left_anti")
    }
  }

  /** D2 (exact flavor): all pairs with 3-gram-shingle-set Jaccard >=
    * `threshold`. Prefix-filtered (AllPairs/PPJoin-style): with every doc's
    * shingles sorted by a global (docFreq, shingle) order, two docs with
    * Jaccard >= t MUST share an element within their first
    * floor((1-t)|S|)+1 shingles — so only prefix postings are self-joined
    * (rarest shingles first, collapsing candidate count), and survivors are
    * verified with an exact intersection over the full sorted sets. Output
    * is IDENTICAL to the naive postings join; the DuckDB oracle is the naive
    * formulation. Deterministic double (int/int division).
    */
  /** Expected self-join fanout per posting: E[df of the shingle holding a
    * random posting] = sum(df^2)/sum(df). Below ~64 the naive postings join
    * is cheaper than prefix filtering's extra shuffles; above it the
    * candidate explosion dominates and prefix filtering wins.
    */
  private val PrefixFanoutThreshold = 64.0

  /** `maxDocFreq` is the corpus-scale skew guard: shingles present in more
    * than that many documents are boilerplate (license headers, navigation
    * chrome, stop-trigram runs) whose posting self-join alone is O(df²) —
    * at a million+ documents a single hot shingle would dominate the whole
    * stage. Dropping them from BOTH the candidate generation and the
    * verified sets keeps one consistent (capped) Jaccard semantics. The
    * default 0 = uncapped keeps exact oracle parity; callers at scale pass a
    * cap comfortably above any legitimate near-dup shingle frequency.
    */
  /** Storage level for the O(corpus-tokens) intermediate checkpoints,
    * settable per session via `spark.graft.checkpoint.storage`. The default
    * MEMORY_AND_DISK is right while the postings fit beside execution
    * memory; at stress/corpus scale set DISK_ONLY — measured at 700× sf0.1,
    * the memory-first checkpoint competes with aggregation tasks for the
    * unified pool and OOMs them, while DISK_ONLY reads back at scan speed.
    * (graft.tools.StressPipeline sets this for its run and restores after.)
    */
  private[ops] def ckptLevel(df: DataFrame): StorageLevel = {
    val v = df.sparkSession.conf.get("spark.graft.checkpoint.storage", "MEMORY_AND_DISK")
    try StorageLevel.fromString(v)
    catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"spark.graft.checkpoint.storage='$v' is not a StorageLevel name " +
            "(expected e.g. MEMORY_AND_DISK, DISK_ONLY)")
    }
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String, threshold: Double,
                        maxDocFreq: Long = 0L): DataFrame = {
    // ONE vocabulary aggregate serves the cap, the cost-based dispatch, and
    // the prefix ordering: shinglePostings' own maxDocFreq path would run a
    // second full groupBy(w) over the postings just to find the hot list —
    // at stress scale that is an extra multi-GB shuffle for values the
    // uncapped aggregate already holds. The capped postings themselves stay
    // a map-side broadcast anti-join over the checkpointed raw postings.
    val rawPlan = shinglePostings(docs, idCol, textCol)
    val raw = rawPlan.localCheckpoint(true, ckptLevel(rawPlan))
    val dfreqAll = raw.groupBy("w").agg(count(lit(1)).as("df"))
      .localCheckpoint(true, ckptLevel(rawPlan))
    val (posts, dfreq) =
      if (maxDocFreq <= 0) (raw, dfreqAll)
      else (
        // materialize the capped postings once (map-side anti-join read of
        // the raw checkpoint) — four downstream consumers would otherwise
        // each re-derive them
        raw.join(broadcast(dfreqAll.filter(col("df") > maxDocFreq)), Seq("w"), "left_anti")
          .localCheckpoint(true, ckptLevel(rawPlan)),
        dfreqAll.filter(col("df") <= maxDocFreq))
    // cost-based strategy choice from one tiny scalar aggregate (vocabulary
    // count rides the same row — it gates the dfreq broadcast below)
    val stats = dfreq.agg(sum(col("df") * col("df")).as("df2"), sum(col("df")).as("dfs"),
      count(lit(1)).as("nw")).head()
    val fanout = stats.getLong(0).toDouble / math.max(1L, stats.getLong(1))
    val usePrefix = fanout >= PrefixFanoutThreshold
    System.err.println(
      f"[ngram] expected self-join fanout $fanout%.1f -> ${if (usePrefix) "prefix-filter" else "naive"} path")
    if (!usePrefix) jaccardFromPosts(posts, threshold)
    else prefixFromPosts(posts, dfreq, threshold, stats.getLong(2))
  }

  /** Prefix-filtered path (forced) — see [[ngramJaccardPairs]]. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    val plan = shinglePostings(docs, idCol, textCol)
    val posts = plan.localCheckpoint(true, ckptLevel(plan))
    val dfreqPlan = posts.groupBy("w").agg(count(lit(1)).as("df"))
    val dfreq = dfreqPlan.localCheckpoint(true, ckptLevel(dfreqPlan))
    prefixFromPosts(posts, dfreq, threshold, dfreq.count())
  }

  /** Everything — prefix selection, candidates, AND the verification sets —
    * derives from the same `posts`, so a df-capped postings table yields one
    * consistent capped-Jaccard semantics.
    *
    * Shuffle shape (round 7): ONE shuffle keys the postings by w (df
    * attach), then ONE shuffle by doc builds a single per-doc row holding
    * the rarity-ordered prefix, the hash-sorted set for verification, and
    * the size — the prior formulation paid a window double-pass (sort by
    * doc) AND a second full-postings groupBy(doc) for collect_set, a whole
    * extra postings-volume shuffle at stress scale. The candidate join
    * also applies the AllPairs length filter (τ·max(sz) ≤ min(sz)): a pair
    * whose sizes alone bound Jaccard below τ never reaches the distinct or
    * the verification join.
    */
  /** Vocabulary-count ceiling for broadcasting the dfreq table into the
    * prefix path's rank attach (r17, guide §3.1): the (w, df) relation is
    * vocabulary-sized — far smaller than the postings it joins — and the
    * shuffle join exchanged the FULL postings relation by w a second time
    * just to attach a rank (the single largest avoidable exchange in the
    * op at 700×). 4 M keys ≈ 64 MB raw / ~150 MB hashed relation. Above
    * the cap (a truly open vocabulary at corpus scale) the shuffle join is
    * the only correct shape. Tunable via
    * `spark.graft.broadcast.dfreq.maxKeys`.
    */
  private val BroadcastDfreqMaxKeysDefault = 4000000L

  private def prefixFromPosts(posts: DataFrame, dfreq: DataFrame, threshold: Double,
                              nVocab: Long): DataFrame = {
    val dfreqCap = posts.sparkSession.conf
      .get("spark.graft.broadcast.dfreq.maxKeys", BroadcastDfreqMaxKeysDefault.toString).toLong
    val dfreqSide = if (nVocab <= dfreqCap) broadcast(dfreq) else dfreq
    val perDoc = posts
      .join(dfreqSide, "w")
      .groupBy(col("doc"))
      .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("wl")) // (df asc, w asc)
      .select(
        col("doc"),
        transform(col("wl"), x => x.getField("w")).as("ordered"),
        size(col("wl")).as("sz"))
      .select(
        col("doc"),
        slice(col("ordered"), lit(1),
          (floor((lit(1.0) - threshold) * col("sz")) + 1).cast("int")).as("prefix"),
        array_sort(col("ordered")).as("set"),
        col("sz"))
      .localCheckpoint(true, ckptLevel(posts))
    // posexplode: each prefix token carries its 0-based rank in the doc's
    // rarity-ordered shingle list — the PPJoin positional filter's input
    val prefix = perDoc.select(col("doc"), col("sz"), posexplode(col("prefix")).as(Seq("p", "w")))
    val cands = prefix
      .as("a")
      .join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.doc") < col("b.doc") &&
          // 1e-9 slack: a boundary pair (τ·max == min exactly in rationals)
          // must survive double rounding of τ·max; the exact Jaccard filter
          // downstream decides for real
          greatest(col("a.sz"), col("b.sz")) * threshold <=
            least(col("a.sz"), col("b.sz")) + lit(1e-9) &&
          // PPJoin positional filter (Xiao et al. 2008): a token matched at
          // 0-based ranks (pa, pb) caps the overlap at min(sza−pa, szb−pb)
          // (only suffixes from the match onward can still intersect), and
          // Jaccard ≥ τ needs overlap ≥ τ·(sza+szb)/(1+τ). Pairs survive on
          // ANY qualifying match — weaker than PPJoin's first-match bound,
          // so strictly exact; the distinct() below dedupes as before.
          least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")) + lit(1e-9) >=
            lit(threshold / (1.0 + threshold)) * (col("a.sz") + col("b.sz")))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    cands
      .join(perDoc.select(col("doc").as("d1"), col("set").as("s1")), "d1")
      .join(perDoc.select(col("doc").as("d2"), col("set").as("s2")), "d2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))))
      .withColumn(
        "jaccard",
        col("inter").cast(DoubleType) / (size(col("s1")) + size(col("s2")) - col("inter"))
      )
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** The unfiltered postings-join formulation (the oracle shape) — the
    * low-fanout strategy, and the equivalence baseline for the
    * prefix-filtered path.
    */
  def ngramJaccardPairsNaive(docs: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    val posts = shinglePostings(docs, idCol, textCol)
    jaccardFromPosts(posts.localCheckpoint(true, ckptLevel(posts)), threshold)
  }

  /** Docs-count ceiling for broadcasting the per-doc sizes table. Below it
    * the sz attach is a map-side broadcast join — deleting a full
    * postings-volume shuffle, the single largest term in the naive path's
    * shuffle bill (measured −9 GB of 28 GB at 700×). Above it the shuffle
    * join is the only correct shape. The default is deliberately well under
    * what a driver can physically collect: 8 M docs ≈ 128 MB of raw
    * entries, comfortably inside the default 1g
    * spark.driver.maxResultSize / broadcast build budget — a run that used
    * to succeed via shuffle join must never start failing in the broadcast
    * collect because it sits just under the cutoff. Tunable per session via
    * `spark.graft.broadcast.sizes.maxDocs` for clusters with bigger
    * drivers; the dispatch itself stays data-driven from the
    * already-computed sizes aggregate.
    */
  private val BroadcastSizesMaxDocsDefault = 8000000L

  private def broadcastSizesMaxDocs(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.graft.broadcast.sizes.maxDocs", BroadcastSizesMaxDocsDefault.toString)
      .toLong

  /** Per-doc set sizes ride WITH the postings into the self-join (one small
    * extra column per posting row) instead of joining the candidate-pair
    * table against a sizes table twice afterwards: the pair table is the
    * LARGEST relation in the whole operator (every doc pair sharing a
    * shingle), and the old shape re-shuffled it through two sort-merge
    * joins; sz is functionally dependent on the doc key, so min() recovers
    * it exactly in the same aggregation that counts the intersection.
    */
  private def jaccardFromPosts(posts: DataFrame, threshold: Double): DataFrame = {
    val sizes = posts.groupBy("doc").agg(count(lit(1)).as("sz"))
    // counting the partial-agged sizes is a ~16 B/doc shuffle — cheap price
    // for knowing whether the 9 GB postings-by-doc shuffle can be skipped
    val nDocs = sizes.count()
    val postsSz =
      if (nDocs <= broadcastSizesMaxDocs(posts)) posts.join(broadcast(sizes), "doc")
      else posts.join(sizes, "doc")
    val inter = postsSz
      .as("a")
      // the AllPairs length filter rides the join condition: J(a,b) ≤
      // min(sz)/max(sz), so a size-incompatible pair can never reach τ and
      // its posting-pair rows are dropped BEFORE the (d1,d2) aggregate —
      // the operator's largest shuffle. 1e-9 absorbs τ·max double rounding
      // on exact-boundary pairs; the exact jaccard filter below decides.
      .join(postsSz.as("b"),
        col("a.w") === col("b.w") && col("a.doc") < col("b.doc") &&
          greatest(col("a.sz"), col("b.sz")) * threshold <=
            least(col("a.sz"), col("b.sz")) + lit(1e-9))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("inter"), min(col("a.sz")).as("sz1"), min(col("b.sz")).as("sz2"))
    inter
      .withColumn("jaccard", col("inter").cast(DoubleType) / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  def ngramJaccardPairsSql(threshold: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
       |), posts AS (
       |  SELECT DISTINCT doc_id AS doc,
       |    unnest(CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
       |           ELSE list_transform(range(1, len(l) - 1), i -> array_to_string(l[i:i+2], ' '))
       |           END) AS w
       |  FROM toks
       |), sizes AS (
       |  SELECT doc, COUNT(*) AS sz FROM posts GROUP BY doc
       |), inter AS (
       |  SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS inter
       |  FROM posts a JOIN posts b ON a.w = b.w AND a.doc < b.doc
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
       |FROM inter JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
       |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $threshold""".stripMargin

  // ------------------------------------------------------------ MinHash LSH

  /** Word 3-shingles from a MATERIALIZED token-array column (see
    * [[shinglePostings]] for why the two-phase shape matters).
    */
  def shinglesFromTokens(toks: Column): Column =
    when(size(toks) < 3, array(concat_ws(" ", toks))).otherwise(
      transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))
      )
    )

  /** Word 3-shingles (whole text for very short docs). */
  def shingles(text: Column): Column = shinglesFromTokens(TextAnalysis.tokens(text))

  /** Permutation-family modulus (Mersenne prime 2^31-1) and deterministic
    * LCG-derived coefficients: a_i*h + b_i stays below 2^63 under ANSI mode,
    * and both constants are plain integer literals the DuckDB oracle can
    * replay verbatim.
    */
  val MinHashP = 2147483647L

  def minHashCoefA(i: Int): Long = {
    val a = (1103515245L * (i + 1) + 12345L) % MinHashP
    if (a == 0L) 1L else a
  }

  def minHashCoefB(i: Int): Long = (2654435761L * i + 1013904223L) % MinHashP

  /** First 15 hex digits of md5(s) as a long via the fused
    * [[graft.functions.Md5PrefixLongExpr]].
    */
  private def md5Prefix15(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.Md5PrefixLongExpr(expression(s.cast(BinaryType)), 15))
  }

  /** MinHash signature: ONE md5-derived base hash per shingle, then
    * `numHashes` universal-hash permutations (a_i*h + b_i) mod p. The base
    * hash array is materialized before the permutation passes (two-phase;
    * see [[shinglePostings]]) so md5 runs once per shingle, not 64 times.
    * md5 + linear maps — not xxhash64 — so the oracle can replay the
    * signatures bit-exactly (same trick as [[simHash]]).
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String, numHashes: Int = 64): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // all permutation minima in ONE codegen pass over the base hashes
    // (MinHashSignaturesExpr) — bit-identical to the 64 × (transform +
    // array_min) column formulation (asserted in OpsSpec), without the 64
    // interpreted array traversals per document
    val sig = column(graft.functions.MinHashSignaturesExpr(
      expression(col("_hs")),
      Array.tabulate(numHashes)(minHashCoefA),
      Array.tabulate(numHashes)(minHashCoefB),
      MinHashP))
    withBaseHashes(docs, idCol, textCol).select(col("doc"), sig.as("sig"), col("shingles"))
  }

  /** The original column-only formulation — the equivalence baseline for
    * [[graft.functions.MinHashSignaturesExpr]] (and the shape the DuckDB
    * oracle replays).
    */
  private[graft] def minHashSignaturesColumns(docs: DataFrame, idCol: String, textCol: String,
                                              numHashes: Int = 64): DataFrame = {
    val sig = array(
      (0 until numHashes).map { i =>
        array_min(transform(col("_hs"), h => (lit(minHashCoefA(i)) * h + lit(minHashCoefB(i))) % MinHashP))
      }: _*
    )
    withBaseHashes(docs, idCol, textCol).select(col("doc"), sig.as("sig"), col("shingles"))
  }

  private def withBaseHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc"), array_distinct(shinglesFromTokens(col("_toks"))).as("shingles"))
      .withColumn(
        "_hs",
        // fused md5-prefix long (one digest, no hex round trip) —
        // bit-identical to conv(substring(md5(s), 1, 15), 16, 10), see
        // Md5PrefixLongExpr / HashExprSpec
        transform(col("shingles"), s => md5Prefix15(s) % MinHashP)
      )
      // the signature family is md5-over-STRINGS (the oracle replays it
      // bit-exactly, so _hs must derive from the string shingle) — but the
      // verification sets carried downstream are only ever intersected for
      // EQUALITY, so the same 8-byte xxhash64 keying as [[shinglePostings]]
      // replaces ~25-byte strings in the signatures checkpoint and both
      // verification rejoins (same ~n²/2⁶⁵ collision caveat, same
      // string-semantics DuckDB oracle)
      .withColumn("shingles", transform(col("shingles"), s => xxhash64(s)))

  /** Banded LSH candidate pairs: two docs collide when any band of
    * `rowsPerBand` consecutive signature entries is IDENTICAL. The band key
    * is the exact value tuple (an array join key), not a hash of it — a
    * hash collision would admit a candidate the oracle's equality
    * formulation never generates. Spark shuffles on the array's hash anyway,
    * so the exchange stays one narrow row per (doc, band); distinct() bounds
    * repeat candidates across bands.
    *
    * r18 note: keying this join on `xxhash64(band, bv)` instead (guide §2.3
    * "shuffle keys instead of payloads", 16 B rows instead of ~48 B) was
    * implemented and MEASURED — it cut the op's shuffle volume 30%
    * (3,967 → 2,772 MB at 700×) but made every consumer SLOWER in wall
    * time (minhash +35%, incremental_dedup +75%) and structurally broke
    * the steady-state cross path (`Incremental.batchStatusSteady` shuffle
    * 133 → 2,554 MB, records 4.2 M → 9.8 M: the derived key defeats the
    * pruning the exact-tuple join enjoys on the stored corpus side, so the
    * corpus shingle arrays started crossing an exchange). Reverted per
    * guide §1.1 — the "ideal plan" lost to the measured one.
    */
  def lshCandidates(sigs: DataFrame, numHashes: Int = 64, rowsPerBand: Int = 4): DataFrame = {
    val bands = bandKeys(sigs, numHashes, rowsPerBand)
    bands
      .as("x")
      .join(bands.as("y"), col("x.band") === col("y.band") && col("x.bv") === col("y.bv") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("d1"), col("y.doc").as("d2"))
      .distinct()
  }

  /** (doc, band, bv) band keys of a signature table — the exact value tuple
    * of each band of `rowsPerBand` consecutive signature entries. The ONE
    * definition of the banding layout, shared by the self-join path above
    * and the cross-set path ([[Incremental.crossNearDupPairs]]) so the two
    * can never drift apart (the incremental oracle's value-identity proof
    * assumes identical banding).
    */
  def bandKeys(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    sigs.select(
      col("doc"),
      posexplode(
        array((0 until numBands).map { b =>
          array((0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
        }: _*)
      ).as(Seq("band", "bv")))
  }

  /** Exact shingle-set Jaccard verification over candidate pairs carrying
    * `sh1`/`sh2` set columns: keeps pairs with Jaccard >= `threshold` and
    * replaces the set columns with the `jaccard` value. Shared by the
    * self-join and cross-set LSH paths for the same no-drift reason as
    * [[bandKeys]].
    */
  def verifiedJaccard(withSets: DataFrame, threshold: Double): DataFrame =
    withSets
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .drop("sh1", "sh2", "inter")

  /** D2 (probabilistic flavor): LSH candidates verified by exact shingle-set
    * Jaccard >= threshold.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String, threshold: Double,
                   numHashes: Int = 64, rowsPerBand: Int = 4): DataFrame = {
    // localCheckpoint, NOT cache(): the signature subplan (md5 + 64
    // permutation passes) feeds the banded self-join twice plus the two
    // shingle-set rejoins, so it must materialize once — but cache() pins the
    // blocks in the CacheManager for the whole session (the r2/r3 leak),
    // while checkpoint blocks are dropped by the ContextCleaner as soon as
    // the result plan is unreferenced.
    val sigsPlan = minHashSignatures(docs, idCol, textCol, numHashes)
    val sigs = sigsPlan.localCheckpoint(true, ckptLevel(sigsPlan))
    val cands = lshCandidates(sigs, numHashes, rowsPerBand)
    val withSets = cands
      .join(sigs.select(col("doc").as("d1"), col("shingles").as("sh1")), "d1")
      .join(sigs.select(col("doc").as("d2"), col("shingles").as("sh2")), "d2")
    verifiedJaccard(withSets, threshold).select("d1", "d2", "jaccard")
  }

  /** DuckDB mirror of [[nearDupPairs]]: same shingles, same md5-based
    * permutation family, same band-equality candidate generation, same
    * exact-Jaccard verification. The band check is a quadratic doc×doc join
    * here — fine at oracle scale; the engine's banded shuffle is the one
    * that has to scale.
    */
  def minHashPairsSql(threshold: Double, numHashes: Int = 64, rowsPerBand: Int = 4): String = {
    val P = MinHashP
    val sigCols = (0 until numHashes)
      .map(i => s"MIN((${minHashCoefA(i)} * h + ${minHashCoefB(i)}) % $P) AS s$i")
      .mkString(",\n    ")
    val numBands = numHashes / rowsPerBand
    val bandEq = (0 until numBands)
      .map { b =>
        (0 until rowsPerBand)
          .map(r => s"x.s${b * rowsPerBand + r} = y.s${b * rowsPerBand + r}")
          .mkString("(", " AND ", ")")
      }
      .mkString("\n    OR ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
       |), posts AS (
       |  SELECT DISTINCT doc_id AS doc,
       |    unnest(CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
       |           ELSE list_transform(range(1, len(l) - 1), i -> array_to_string(l[i:i+2], ' '))
       |           END) AS w
       |  FROM toks
       |), hashed AS (
       |  SELECT doc, CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % $P AS h FROM posts
       |), sigs AS (
       |  SELECT doc, $sigCols
       |  FROM hashed GROUP BY doc
       |), cand AS (
       |  SELECT x.doc AS d1, y.doc AS d2 FROM sigs x JOIN sigs y ON x.doc < y.doc
       |  WHERE $bandEq
       |), sizes AS (
       |  SELECT doc, COUNT(*) AS sz FROM posts GROUP BY doc
       |), inter AS (
       |  SELECT c.d1, c.d2, COUNT(*) AS inter
       |  FROM cand c JOIN posts p1 ON p1.doc = c.d1 JOIN posts p2 ON p2.doc = c.d2 AND p1.w = p2.w
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
       |FROM inter JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
       |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $threshold""".stripMargin
  }

  /** Shared recursive-CTE prelude for component-based oracles: MinHash-LSH
    * pairs at `threshold` → undirected edges → transitive reach → `comp`
    * table of (doc, comp) with comp = min reachable id. Quadratic in
    * component size — an oracle-scale formulation.
    */
  private def componentsSqlPrefix(threshold: Double, numHashes: Int, rowsPerBand: Int): String =
    s"""WITH RECURSIVE pairs AS (
       |${minHashPairsSql(threshold, numHashes, rowsPerBand)}
       |), edges AS (
       |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a
       |)""".stripMargin

  /** DuckDB mirror of [[duplicateClusters]] plus the registered cluster-size
    * histogram.
    */
  def clusterSizesSql(threshold: Double, numHashes: Int = 64, rowsPerBand: Int = 4): String =
    componentsSqlPrefix(threshold, numHashes, rowsPerBand) +
      s""", csize AS (
       |  SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp
       |)
       |SELECT cluster_size, COUNT(*) AS n_clusters
       |FROM csize GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** Keep-one-per-cluster selection — the pipeline step that follows pair
    * generation in a real dedup: each near-dup component keeps its canonical
    * document (most tokens, ties → lowest id) and drops the rest. Returns
    * (comp, doc, n_tokens) of the survivors.
    *
    * The ranking window partitions by component — clusters are small by
    * construction (they are near-DUP groups), so no skewed partition; the
    * docs join is a hash join on doc id.
    */
  def keepCanonical(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val comp = duplicateClusters(pairs)
    val sized = comp.join(
      docs.select(col(idCol).as("doc"), TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")),
      "doc")
    val w = Window.partitionBy(col("comp")).orderBy(col("n_tokens").desc, col("doc"))
    sized
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("comp"), col("doc"), col("n_tokens"))
  }

  /** DuckDB mirror of [[keepCanonical]] over the `documents` table. */
  def keepCanonicalSql(threshold: Double, numHashes: Int = 64, rowsPerBand: Int = 4): String =
    componentsSqlPrefix(threshold, numHashes, rowsPerBand) +
      s""", sized AS (
       |  SELECT c.comp, c.doc, ${TextAnalysis.tokenCountSql("d.text")} AS n_tokens
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc
       |)
       |SELECT comp, doc, n_tokens FROM sized
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY comp ORDER BY n_tokens DESC, doc) = 1
       |ORDER BY comp""".stripMargin

  /** Reliable-checkpoint dir of a checkpointed frame (None for local
    * checkpoints — Spark only reports files for reliable ones).
    */
  private def checkpointDirOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
    }.flatten

  /** Delete a superseded reliable checkpoint. Spark never cleans these by
    * default (spark.cleaner.referenceTracking.cleanCheckpoints=false), so a
    * deep label chain would otherwise leave one full copy of the label table
    * per iteration on the checkpoint FS — the GraphX Pregel pattern is to
    * drop iteration i-1 once iteration i is materialized.
    */
  private def dropCheckpoint(df: DataFrame): Unit =
    checkpointDirOf(df).foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** Rows per iteration-shuffle partition for [[duplicateClusters]]
    * (~50 MB of unsafe rows at 24 B/edge). The label-propagation loop's
    * relations are label/edge tables of narrow longs, far smaller than the
    * pair-generation stage the session's shuffle width is sized for —
    * running every iteration at the session width made the loop pure task
    * overhead at stress scale (measured r16: 11,367 tasks, most < 1 MB).
    * The width is derived from the measured edge count each run (scale-
    * adaptive, guide §2.2: fewer, larger partitions), clamped to the session
    * width so a genuinely huge edge set still gets the full fan-out. An edge
    * set that fits ONE such partition skips the loop altogether (union-find
    * in one task), so `spark.graft.cc.rowsPerPartition` is also the ceiling
    * on the edges that one task holds in memory.
    */
  private val CcRowsPerPartitionDefault = 2000000L

  /** Connected components over dup pairs (`d1`, `d2`). Returns (doc, comp),
    * one row per id that appears in a pair, where comp = the minimum doc id
    * of its component; a null id joins nothing and appears once as
    * (null, null). Nothing is collected to the driver on either path.
    *
    * The symmetric edge table (both directions of every pair) is
    * checkpointed and counted first; `spark.graft.cc.rowsPerPartition`
    * (edges per loop partition, default 2M) then picks the path:
    *   - at most one partition of edges: union-find over the edges in ONE
    *     executor task — a few Spark jobs in all, where the loop runs two
    *     per iteration and those jobs' fixed cost is nearly all of a small
    *     graph's time. The key thus also bounds that task's memory (three
    *     primitive long arrays over the edges): raising it for wider loop
    *     partitions also raises what one task must hold;
    *   - more: distributed min-label propagation. A label moves one hop per
    *     iteration, so the loop runs O(diameter) iterations — diameter + 1
    *     with the final one that sees no change — and stops only when the
    *     label sum stops changing. Labels only decrease over a finite id
    *     set, so it always terminates, and never returns moving labels.
    *
    * The 2M crossover is not a measured one: it is the loop's partition
    * size (~50 MB), not the point above which the loop beats one task, and
    * no benchmark workload reaches the loop (the largest measured edge set,
    * 67k at 700× stress, takes union-find).
    *
    * Checkpointing each iteration truncates lineage so iteration i does not
    * re-execute the (potentially huge) pair-generation plan i times.
    * `reliableCheckpoint = true` writes the edges, every iteration and the
    * union-find result to the SparkContext's checkpoint directory instead of
    * executor block storage: on a long many-iteration run over 100 TB, an
    * executor loss then replays from the last checkpoint file rather than
    * recomputing the whole label chain (localCheckpoint blocks die with
    * their executor). Superseded checkpoint files are deleted; only the
    * returned frame's remains. Requires `sc.setCheckpointDir` on a
    * fault-tolerant FS.
    */
  def duplicateClusters(pairs: DataFrame, reliableCheckpoint: Boolean = false): DataFrame = {
    val ck: DataFrame => DataFrame =
      if (reliableCheckpoint) df => df.checkpoint(eager = true)
      else df => df.localCheckpoint(true, ckptLevel(df))
    val spark = pairs.sparkSession
    val edges0 = ck(pairs
      .select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b"))))
    // edge count is in hand anyway (the checkpoint is eager); it picks the
    // path and, for the loop, the iteration shuffle width instead of the
    // session conf, which is sized for the corpus-volume pair generation
    val nEdges = edges0.count()
    val rowsPerPart = spark.conf
      .get("spark.graft.cc.rowsPerPartition", CcRowsPerPartitionDefault.toString).toLong
    if (nEdges <= rowsPerPart) {
      val comps = ck(UnionFind.components(edges0))
      dropCheckpoint(edges0)
      comps
    } else propagateLabels(edges0, nEdges, rowsPerPart, ck)
  }

  /** [[duplicateClusters]]' distributed path: min-label propagation to
    * convergence over the checkpointed symmetric edge table `edges0`.
    */
  private def propagateLabels(edges0: DataFrame, nEdges: Long, rowsPerPart: Long,
                              ck: DataFrame => DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // floor at the core count (clamped to the session width): a tiny edge
    // set must not serialize the iterations onto one core — measured at 700×
    // stress (67 k edges): width 1 ran 101.6 s vs 86.5 s at the session's
    // 256; the floor keeps every core busy while still deleting the
    // hundreds of near-empty tasks per iteration
    val parallelismFloor = math.min(sessionParts, spark.sparkContext.defaultParallelism)
    val parts = math.max(parallelismFloor.toLong, math.min(sessionParts.toLong,
      (nEdges + rowsPerPart - 1) / rowsPerPart)).toInt
    // pre-partition + pre-sort edges by the probe key ONCE: checkpoint
    // preserves partitioning and ordering, so the per-iteration join
    // re-exchanges (and re-sorts) only the far smaller labels side instead
    // of the edge table every pass (guide §2.4: share one exchange)
    val edges = ck(edges0.repartition(parts, col("b")).sortWithinPartitions("b"))
    dropCheckpoint(edges0)
    // r18 (r17 verdict #7/#8): the loop no longer mutates the session-global
    // spark.sql.shuffle.partitions — every loop relation is EXPLICITLY
    // repartitioned to `parts` instead, so concurrent queries on the shared
    // session plan at their own width and two concurrent duplicateClusters
    // calls cannot race on the conf restore. Width alignment also deletes
    // the per-iteration labels exchange: `updated` leaves each iteration
    // hash-partitioned by doc at `parts` (checkpoints preserve the physical
    // plan's outputPartitioning), which satisfies BOTH its consumers — the
    // edges join (edges pre-hashed by b at the same width) and the next
    // `least` join — so the only edge-volume exchange per iteration is the
    // explicit (doc, comp) repartition feeding the min aggregate. The
    // pre-exchange partial-agg the implicit groupBy exchange had is an
    // acceptable trade: rows are two longs, and hash-scattering edges by b
    // leaves ~no duplicate `a` per partition to combine anyway.
    var labels = ck(edges
      .select(col("a").as("doc"))
      .repartition(parts, col("doc"))
      .distinct()
      .withColumn("comp", col("doc")))
    var converged = false
    // labels are monotone non-increasing per doc (least(comp, nbrMin)), so
    // the total label sum strictly decreases iff anything changed — one cheap
    // scalar agg per iteration instead of a join-based change probe (null
    // ids carry a null label, which the sum skips)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("comp")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    while (!converged) {
      val nbrMin = edges
        .join(labels, edges("b") === labels("doc"))
        .select(edges("a").as("doc"), col("comp"))
        .repartition(parts, col("doc"))
        .groupBy(col("doc"))
        .agg(min(col("comp")).as("nbrComp"))
      val updated = ck(labels
        .join(nbrMin, Seq("doc"), "left")
        .select(col("doc"), least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp")))
      val newSum = labelSum(updated)
      converged = newSum == prevSum
      prevSum = newSum
      // iteration i is materialized — iteration i-1's reliable checkpoint
      // files are dead (no-op for local checkpoints)
      dropCheckpoint(labels)
      labels = updated
    }
    // the returned frame depends only on the final labels checkpoint
    dropCheckpoint(edges)
    labels
  }

  /** [[duplicateClusters]]' one-task path: union-find over the symmetric
    * edge table (a, b) in a single partition. Ids are read into a sorted,
    * distinct primitive array, so an id's union-find slot is a binary search
    * and slot order is id order; union by smaller root then leaves every
    * root at its component's minimum id. Output rows and schema are those of
    * the converged label loop.
    */
  private object UnionFind {
    def components(edges: DataFrame): DataFrame = {
      val idField = edges.schema("a")
      val schema = StructType(Seq(idField.copy(name = "doc"), idField.copy(name = "comp")))
      val boxId: Long => Any = idField.dataType match {
        case LongType => identity
        case IntegerType => _.toInt
        case ShortType => _.toShort
        case ByteType => _.toByte
        case t => throw new IllegalArgumentException(s"duplicateClusters: ids must be integral, got $t")
      }
      edges.coalesce(1).mapPartitions(rows => solve(rows, boxId))(Encoders.row(schema))
    }

    private def solve(rows: Iterator[Row], boxId: Long => Any): Iterator[Row] = {
      val seen = new mutable.ArrayBuilder.ofLong
      val from = new mutable.ArrayBuilder.ofLong
      val to = new mutable.ArrayBuilder.ofLong
      var sawNull = false
      // every non-null id is an `a` somewhere (the table holds both
      // directions); a null end joins nothing, as in the loop's equi-joins
      rows.foreach { r =>
        if (r.isNullAt(0)) sawNull = true
        else {
          val a = r.get(0).asInstanceOf[Number].longValue
          seen += a
          if (!r.isNullAt(1)) {
            val b = r.get(1).asInstanceOf[Number].longValue
            if (a < b) { from += a; to += b }
          }
        }
      }
      val all = seen.result()
      java.util.Arrays.sort(all)
      var n = 0
      for (k <- all.indices) if (n == 0 || all(k) != all(n - 1)) { all(n) = all(k); n += 1 }
      val ids = java.util.Arrays.copyOf(all, n)
      val parent = Array.range(0, n)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      val (fs, ts) = (from.result(), to.result())
      for (e <- fs.indices) {
        val ra = find(java.util.Arrays.binarySearch(ids, fs(e)))
        val rb = find(java.util.Arrays.binarySearch(ids, ts(e)))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      Iterator.tabulate(n)(k => Row(boxId(ids(k)), boxId(ids(find(k))))) ++
        (if (sawNull) Iterator.single(Row(null, null)) else Iterator.empty)
    }
  }

  // ---------------------------------------------------------------- SimHash

  val SimHashBits = 60 // md5-hex-15 fits a signed 64-bit in both engines

  /** 60-bit SimHash over word multiset, hash = first 15 md5 hex digits —
    * identical in DuckDB, so signatures oracle-check exactly.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(
      col(idCol).as("doc"),
      explode(TextAnalysis.tokens(col(textCol))).as("w")
    )
    val h = md5Prefix15(col("w"))
    val bitSums = (0 until SimHashBits).map { i =>
      sum(shiftright(h, i).bitwiseAND(1) * 2 - 1).as(s"s$i")
    }
    val sums = words.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimHashBits)
      .map(i => when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce(_ + _)
    sums.select(col("doc"), sig.as("simhash"))
  }

  def simHashSql: String = {
    val h = "CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT)"
    val bitSums = (0 until SimHashBits)
      .map(i => s"SUM((($h >> $i) & 1) * 2 - 1) AS s$i")
      .mkString(",\n    ")
    val sig = (0 until SimHashBits)
      .map(i => s"CASE WHEN s$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END")
      .mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
       |), sums AS (
       |  SELECT doc, $bitSums
       |  FROM words GROUP BY doc
       |) SELECT doc, $sig AS simhash FROM sums""".stripMargin
  }

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
