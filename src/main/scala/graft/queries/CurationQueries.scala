package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Signatures
import graft.functions.TextOps
import graft.operators.Packing
import graft.similarity.Ann

/** Data-curation surface — the corpus-preparation operators a
  * pretraining pipeline runs between raw crawl and training shards:
  * duplicated-span measurement (q75), int8 embedding quantization (q76),
  * semantic dedup over the IVF partitioning (q77), greedy sequence
  * packing (q78), temperature-balanced corpus mixing (q79), incremental
  * near-dup against a standing corpus index (q93), duplicated-span
  * REMOVAL (q94), PII scrubbing (q95), model-based quality filtering
  * (q98), deterministic shard export (q99), content-defined chunking
  * (q100), per-domain document caps (q103), and weighted priority
  * sampling (q104).
  *
  * Every query is DuckDB-oracled; the scale arguments live with each
  * operator (keyed joins and partial aggregation throughout — the only
  * sequential compute, q78's packing fold, is sequential per GROUP and
  * parallel across groups).
  */
object CurationQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q78 packing capacity (chars; n_chars plays the token count). */
  private val PackCapacity = 1000L

  /** q245/q247 context token budget. 512 packs ~9 of the fixture's
    * ~54-token docs per context, so rollover waste is visible at every
    * SF; a real export's 2k–8k budget changes only this constant.
    * Hardwired in the oracle (the curriculumShards stance). */
  private[graft] val PackTokenBudget = 512L

  /** The q245/q247 packing input: every doc with its q26 token count in
    * q99's export order — (shard, pos, doc_id, n_tokens). Shared by the
    * batch fold and the streamed replay so the arrival order cannot
    * drift between faces. */
  private[graft] def packStaged(s: SparkSession, d: String): DataFrame = {
    val key = graft.operators.TextCuration.shuffleKey(col("doc_id"))
    val win = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), key.as("shuffle_key"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", col("shuffle_key") % curriculumShards)
      .withColumn("pos", row_number().over(win).cast("long"))
      .select("shard", "pos", "doc_id", "n_tokens")
  }

  /** The q248 fragment set, closed-form: per-shard prefix-sum offsets,
    * context range by sequence-explode, geometry by min/max — shared by
    * the batch face (q248) and reused mentally by the streamed face
    * (q251 computes the identical arithmetic per-row in its processor).
    * The n_tokens > 0 filter (ADVICE r15 #3): Spark's sequence(a, b)
    * generates DESCENDING when b < a, so a zero-token doc whose
    * start_off is a budget multiple would explode to two spurious rows
    * — and DuckDB's range() itself emits 0 or 1 rows depending on
    * offset alignment. Dropping such docs on ALL faces (a doc occupying
    * no tokens ships nothing) is the only alignment-independent
    * semantics; unreachable while split(text, ' ') can't yield an empty
    * array, but the guard removes the invisible tokenizer dependency. */
  private[graft] def splitFragments(staged: DataFrame): DataFrame = {
    val B = PackTokenBudget
    val w = Window.partitionBy("shard").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    staged
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("end_off", col("start_off") + col("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("shard"), col("doc_id"),
        col("n_tokens").as("n_doc_tokens"), col("start_off"), col("end_off"),
        explode(expr(s"sequence(start_off div $B, (end_off - 1) div $B)"))
          .as("context_id"))
      .select(col("shard"), col("context_id"), col("doc_id"),
        col("n_doc_tokens"),
        greatest(col("start_off") - col("context_id") * B, lit(0L))
          .as("tok_start"),
        least(col("end_off") - col("context_id") * B, lit(B)).as("tok_end"),
        (col("start_off") >= col("context_id") * B).cast("long").as("is_head"),
        (col("end_off") <= (col("context_id") + 1) * B).cast("long")
          .as("is_tail"))
  }

  /** The q248/q251 report layer over split fragments: loader positions
    * and the final ordering — shared so the two faces' output is
    * definitionally the same function of their fragment sets (the
    * packReport rule). */
  private[graft] def splitReport(frags: DataFrame): DataFrame =
    frags
      .withColumn("n_tokens", col("tok_end") - col("tok_start"))
      .withColumn("position", row_number().over(
        Window.partitionBy("shard", "context_id")
          .orderBy("tok_start", "doc_id")).cast("long"))
      .select("shard", "context_id", "position", "doc_id", "n_doc_tokens",
        "tok_start", "tok_end", "n_tokens", "is_head", "is_tail")
      .orderBy("shard", "context_id", "position")

  /** The q245/q247 report layer over packed spans: loader positions and
    * the per-context fill/waste audit (one (shard, context) window —
    * context count is corpus/budget-bounded). Shared so the two faces'
    * output is definitionally the same function of their spans. */
  private[graft] def packReport(packed: DataFrame): DataFrame = {
    val B = PackTokenBudget
    val wc = Window.partitionBy("shard", "context_id")
    packed
      .withColumn("position", row_number().over(
        Window.partitionBy("shard", "context_id")
          .orderBy("tok_start", "doc_id")).cast("long"))
      .withColumn("context_fill", sum(col("n_tokens")).over(wc))
      .select(col("shard"), col("context_id"), col("position"),
        col("doc_id"), col("tok_start"), col("tok_end"), col("n_tokens"),
        col("n_trunc_tokens"), col("context_fill"),
        (lit(B) - col("context_fill")).as("waste_tokens"),
        expr(s"context_fill * 1000000 div $B").as("fill_ppm"))
      .orderBy("shard", "context_id", "position")
  }

  /** q94 excision threshold: a merged duplicated-token interval is
    * removed only when it spans at least this many tokens — the Lee et
    * al. "remove long duplicated substrings" shape (their cutoff is 50
    * BPE tokens at web scale; the synthetic docs are ~100 tokens, so the
    * same idea lands at a proportionally smaller span). Short incidental
    * overlaps stay in the text. */
  private val SpanRemovalMinTokens = 8L

  /** q226 chunk grain: consecutive (non-sliding) windows of this many
    * tokens play the "line" of a C4/CCNet line-dedup pass — the fixture
    * corpus is newline-free word soup, so the physical line separator is
    * replaced by a fixed token width (the q69 chunking idea at dedup
    * grain). 4 tokens is where the synthetic corpus actually repeats:
    * at sf0.01, 47 distinct 4-token chunks occur in ≥ 3 docs (measured),
    * so the drop branch fires on the real fixture, not just the planted
    * spec. */
  private val LineChunkTokens = 4

  /** q226/q246 drop threshold: a chunk occurring in at least this many
    * DISTINCT docs is corpus-boilerplate and removed everywhere (the
    * CCNet rule drops lines duplicated across the corpus; ≥ 3 keeps
    * legitimate two-doc echoes). */
  private[graft] val LineDupMinDocs = 3L

  /** q253 verdict thresholds — fixture-calibrated (the LineChunkTokens
    * stance) so BOTH keep/drop branches fire at every gate SF; a real
    * web-crawl deploy would use the published Gopher values (dup-line
    * 0.30, top-2-gram 0.18, no run rule) against real line grain. */
  private val RepTopBigramMaxPpm = 160000L
  private val RepDupLineMaxPpm = 30000L
  private val RepMaxRun = 3L

  /** q254 RAG chunk geometry: C tokens per chunk, stride S < C (overlap
    * C−S). 32/24 exercises 1–4 chunks/doc on the fixture's ≤100-token
    * docs; production retrieval exports run the same closed form at
    * 512/384. */
  private val RagChunkTokens = 32L
  private val RagChunkStride = 24L

  /** The q226 chunk relation, shared with the q246 incremental engine:
    * one row per consecutive [[LineChunkTokens]]-token window of each
    * doc — (doc_id, ci, chunk, h) with h the 56-bit md5 dup-hash. */
  private[graft] def lineChunks(docs: DataFrame): DataFrame = {
    import graft.expressions.Hash56
    val K = LineChunkTokens
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(expr(s"sequence(0, (size(tk) - 1) div $K)")).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("ci"),
        array_join(slice(col("tk"), col("ci") * K + 1, lit(K)), " ")
          .as("chunk"))
      .withColumn("h", Hash56(col("chunk")))
  }

  /** q99/q221 shard count, hardwired in both oracles and shared by every
    * query that shards the curriculum export (q245/q247 packing
    * included). In a real export it scales with loader workers; here it
    * is a constant, so no query can disagree with its oracle. */
  private[queries] final val curriculumShards = 8L

  /** q93's batch split: the "newly arrived" slice is a fixed residue
    * class so the batch stays ~10% of the corpus at EVERY scale factor
    * (an absolute id cutoff would shrink to nothing at sf0.1). Residue 5
    * is the class with the most corpus-straddling near-dup pairs in the
    * synthetic corpus (8 at sf0.01 vs 1 for residue 9), so the verified
    * keep/drop branch is exercised, not vacuously green. */
  private def isNewDoc(c: Column): Column = c % 10 === 5

  /** q77 semantic-dedup cosine threshold. The synthetic embeddings are
    * near-uniform on the sphere (max pairwise cos ≈ 0.51 at sf0.01), so
    * a production-style 0.95 would never drop — 0.45 sits inside the
    * observed tail and exercises both branches of the keep decision. */
  private val SemThreshold = 0.45

  /** q103 per-domain document cap: binds at sf0.01 (25 docs/source) and
    * above; at sf0.001 (2-3 docs/source) every doc is kept — correct,
    * just unexercised, like q93's batch split at tiny SF. */
  private val DomainCap = 15

  /** q104 sample size. k+1 docs must exist for the threshold τ to be
    * defined; below that the whole corpus is the sample and τ = 0. */
  private val PrioritySampleK = 64

  /** q100 min chunk size: a raw boundary within this many tokens of the
    * previous raw boundary is suppressed (the FastCDC min-size rule as
    * a lagged-distance filter). 4 ≈ mean-chunk/4, FastCDC's own
    * default proportion. */
  private val MinChunkTokens = 4L

  /** Positional hashed 3-gram shingles per doc — q75's base relation,
    * the SHARED positional base the dedup trio's distinct sets also
    * derive from ([[PipelineQueries.positionalShingleDocs]]): the md5
    * per position runs once per (session, dir) for the whole shingle
    * family. */
  private def positionalShingles(s: SparkSession, d: String): DataFrame =
    PipelineQueries.positionalShingleDocs(s, d)

  /** q127/q202's shared unigram-LM quality tiers: per-doc average token
    * surprisal under the corpus's own unigram model, quantized to
    * integer bits (pure integer arithmetic both engines), tier cuts
    * from ONE exact-percentile agg broadcast back. Shared so the tierer
    * and the q202 agreement eval can never drift. */
  private def lmTiers(s: SparkSession, d: String): DataFrame = {
    val toks = graft.Caches.scopedPersist(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok")))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("t"))
    val perDoc = graft.Caches.scopedPersist(
      toks.join(cnt, "tok").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          (length(bin(expr("t div c"))) - 1).cast("long").as("bits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("bits").as("sum_bits"))
        .withColumn("avg_bits",
          col("sum_bits").cast("double") / col("n_tok").cast("double")))
    val cuts = perDoc.agg(
      expr("percentile(avg_bits, 0.3333333333333333)").as("t1"),
      expr("percentile(avg_bits, 0.6666666666666666)").as("t2"))
    perDoc.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tok"), col("sum_bits"), col("avg_bits"),
        when(col("avg_bits") <= col("t1"), "head")
          .when(col("avg_bits") <= col("t2"), "middle")
          .otherwise("tail").as("tier"))
  }

  /** q250 inference batch size: 16 sequences padded to the batch max —
    * the serving-side grain (training contexts are q245/q247/q248's
    * token budget instead). Hardwired in the oracle. */
  private val InferBatchDocs = 16L

  /** The q245/q247/q249 shared walk prefix: q99's export order as a
    * ranked relation (`d`) and the greedy packing walk as a recursive
    * CTE over it (`walk`) — one definition, three consumers (the q138
    * one-text rule applied to a CTE chain). */
  // `d AS MATERIALIZED` (r16, the q133 rule): DuckDB inlines a plain
  // CTE into each recursive-walk iteration, re-deriving the md5 keys
  // and rank window once per step — q245/q249's sf0.1 oracles ran
  // ~10 s each, 20× the materialized form (0.5 s). Same fix on q78's
  // walk and q252's staged relation (423 s → 1.6 s there).
  private[queries] val PackWalkCte: String =
    s"""WITH RECURSIVE k AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('shard_' || CAST(doc_id AS VARCHAR)), 1, 14))
         |      AS BIGINT) AS shuffle_key,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS raw
         |  FROM documents),
         |d AS MATERIALIZED (SELECT doc_id, raw, least(raw, $PackTokenBudget) AS len,
         |    shuffle_key % 8 AS shard,
         |    row_number() OVER (PARTITION BY shuffle_key % 8
         |      ORDER BY shuffle_key, doc_id) AS rn
         |  FROM k),
         |walk(shard, rn, doc_id, raw, len, ctx, tok_start, fill) AS (
         |  SELECT shard, rn, doc_id, raw, len,
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), len
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.rn, d.doc_id, d.raw, d.len,
         |    CASE WHEN w.fill + d.len > $PackTokenBudget THEN w.ctx + 1 ELSE w.ctx END,
         |    CASE WHEN w.fill + d.len > $PackTokenBudget THEN CAST(0 AS BIGINT) ELSE w.fill END,
         |    CASE WHEN w.fill + d.len > $PackTokenBudget THEN d.len ELSE w.fill + d.len END
         |  FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1)""".stripMargin

  /** The q245/q247 shared oracle: the identical greedy walk as a
    * recursive CTE over q99's rn order — one text, two faces (the
    * q241/q243 promotion rule). */
  private[queries] val SequencePackingSql: String =
    s"""$PackWalkCte,
         |f AS (SELECT shard, ctx AS context_id, doc_id, tok_start,
         |    tok_start + len AS tok_end, len AS n_tokens,
         |    raw - len AS n_trunc_tokens,
         |    CAST(row_number() OVER (PARTITION BY shard, ctx
         |      ORDER BY tok_start, doc_id) AS BIGINT) AS position,
         |    CAST(sum(len) OVER (PARTITION BY shard, ctx) AS BIGINT) AS context_fill
         |  FROM walk)
         |SELECT shard, context_id, position, doc_id, tok_start, tok_end,
         |  n_tokens, n_trunc_tokens, context_fill,
         |  $PackTokenBudget - context_fill AS waste_tokens,
         |  CAST(context_fill * 1000000 // $PackTokenBudget AS BIGINT) AS fill_ppm
         |FROM f ORDER BY shard, context_id, position""".stripMargin

  /** The q248/q251 shared oracle: the identical closed-form split
    * packing as prefix sums + unnest(range) — one text, two faces (the
    * q245/q247 rule; the WHERE n_doc_tokens > 0 mirrors the engine-side
    * zero-token guard, ADVICE r15 #3). */
  private[queries] val SplitPackingSql: String =
    s"""WITH k AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('shard_' || CAST(doc_id AS VARCHAR)), 1, 14))
         |      AS BIGINT) AS shuffle_key,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS raw
         |  FROM documents),
         |st AS (SELECT doc_id, raw AS n_doc_tokens,
         |    shuffle_key % 8 AS shard,
         |    row_number() OVER (PARTITION BY shuffle_key % 8
         |      ORDER BY shuffle_key, doc_id) AS pos
         |  FROM k),
         |o AS (SELECT shard, doc_id, n_doc_tokens,
         |    CAST(coalesce(sum(n_doc_tokens) OVER (PARTITION BY shard ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS start_off
         |  FROM st),
         |x AS (SELECT shard, doc_id, n_doc_tokens, start_off,
         |    start_off + n_doc_tokens AS end_off,
         |    CAST(u.c AS BIGINT) AS context_id
         |  FROM o, unnest(range(start_off // $PackTokenBudget,
         |    (start_off + n_doc_tokens - 1) // $PackTokenBudget + 1)) u(c)
         |  WHERE n_doc_tokens > 0),
         |g AS (SELECT shard, context_id, doc_id, n_doc_tokens,
         |    greatest(start_off - context_id * $PackTokenBudget, 0) AS tok_start,
         |    least(end_off - context_id * $PackTokenBudget, $PackTokenBudget) AS tok_end,
         |    CAST(start_off >= context_id * $PackTokenBudget AS BIGINT) AS is_head,
         |    CAST(end_off <= (context_id + 1) * $PackTokenBudget AS BIGINT) AS is_tail
         |  FROM x)
         |SELECT shard, context_id,
         |  CAST(row_number() OVER (PARTITION BY shard, context_id
         |    ORDER BY tok_start, doc_id) AS BIGINT) AS position,
         |  doc_id, n_doc_tokens, tok_start, tok_end,
         |  tok_end - tok_start AS n_tokens, is_head, is_tail
         |FROM g ORDER BY shard, context_id, position""".stripMargin

  val queries: Map[String, Q] = Map(
    // Duplicated-span fraction (the Lee et al. "fraction of tokens
    // inside a duplicated n-gram" dedup diagnostic): per doc, how many
    // of its POSITIONS carry a 3-gram that occurs in >= 2 distinct docs.
    // Shapes: distinct (doc,hash) then count per hash — both partial-
    // aggregated map-side; the join back to positions is keyed on the
    // 56-bit hash. Never doc×doc. LEFT join keeps clean docs in the
    // report with 0, like q74.
    "q75_duplicated_spans" -> { (s, d) =>
      val sh = positionalShingles(s, d) // session-shared, already persisted
      val pos = graft.Caches.scopedPersist(
        sh.select(col("doc_id"), explode(col("sp")).as("h")))
      val dupHashes = pos.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("h")
      val dupPos = pos.join(dupHashes, Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("nd"))
      sh.select(col("doc_id"), size(col("sp")).cast("long").as("n_pos"))
        .join(dupPos, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_pos"),
          coalesce(col("nd"), lit(0L)).as("n_dup_pos"),
          (coalesce(col("nd"), lit(0L)).cast("double") / col("n_pos"))
            .as("dup_fraction"))
        .orderBy("doc_id")
    },

    // Int8 scalar quantization + quantized top-k: per-dimension global
    // (min, max) → q = floor((x - mn) * (254/(mx - mn)) + 0.5) - 127 ∈
    // [-127, 127], then an INTEGER dot product against the quantized
    // query (vec_id 0). Integer scores are exact → hash-stable across
    // engines, unlike a float rescore. The stats aggregate is 64 rows
    // (partial-agg'd posexplode), broadcast back as one array row; the
    // quantize pass is map-only. At 100 TB this is the memory lever: the
    // quantized corpus is 4× smaller than float32 and the scan does
    // integer multiply-adds.
    "q76_quantized_similarity" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val stats = e.select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim").agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .groupBy().agg(
          array_sort(collect_list(struct(col("dim"), col("mn")))).as("mns"),
          array_sort(collect_list(struct(col("dim"), col("mx")))).as("mxs"))
        .select(transform(col("mns"), p => p.getField("mn")).as("mn"),
          transform(col("mxs"), p => p.getField("mx")).as("mx"))
      val quant = graft.Caches.scopedPersist(
        e.crossJoin(broadcast(stats))
          .select(col("vec_id"), transform(col("embedding"), (x, i) => {
            val mn = element_at(col("mn"), i + 1)
            val mx = element_at(col("mx"), i + 1)
            when(mx === mn, lit(0L)).otherwise(
              floor((x.cast("double") - mn) * (lit(254.0) / (mx - mn))
                + lit(0.5)) - lit(127L))
          }).as("q")))
      val q0 = quant.filter(col("vec_id") === 0).select(col("q").as("qq"))
      quant.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("vec_id"),
          aggregate(zip_with(col("q"), col("qq"), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
    },

    // SemDeDup: semantic near-dup removal bounded by the IVF cell
    // partitioning — reuses the SAME trained codebook as q33 (the oracle
    // replays the full Lloyd chain via the shared IvfCte prefix). Report
    // form: every vector with its cell and kept 0/1.
    "q77_semantic_dedup" -> { (s, d) =>
      // literally the same trained codebook and cell assignment as q33 —
      // both read the shared IVF index, so "same partitioning" is
      // structural, not a retrained coincidence
      Ann.semanticDedupAssigned(
        graft.similarity.IvfIndex.assignments(s, d), SemThreshold)
        .orderBy("vec_id")
    },

    // Greedy sequence packing per lang (capacity = 1000 chars): the
    // sort-fold runs inside flatMapSortedGroups — sequential per group,
    // parallel across groups, one keyed shuffle. See operators/Packing.
    "q78_greedy_packing" -> { (s, d) =>
      Packing.greedyPack(Tables.documents(s, d), PackCapacity)
        .orderBy("lang", "doc_id")
    },

    // Temperature-balanced corpus mixing (alpha = 0.5 language
    // smoothing, the mT5/UniMax shape): per-lang keep rate
    // r_l = sqrt(min_cnt / cnt_l) — the kept corpus scales per-lang mass
    // from cnt_l to sqrt(min_cnt·cnt_l) ∝ cnt_l^0.5. Deterministic
    // membership via the doc's 56-bit md5 fraction, so the sample is
    // reproducible across engines AND across runs (same property as
    // q66's fixed-rate strata; here the rates are DERIVED from corpus
    // stats). Tiny rate table broadcast; the filter itself is map-only.
    "q79_temperature_mixing" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cnt = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val mn = cnt.groupBy().agg(min(col("cnt")).as("mincnt"))
      val rates = cnt.crossJoin(broadcast(mn))
        .select(col("lang"),
          sqrt(col("mincnt").cast("double") / col("cnt").cast("double"))
            .as("rate"))
      docs.join(broadcast(rates), Seq("lang"))
        .filter(TextOps.hash56(col("doc_id").cast("string")).cast("double")
          / lit(72057594037927936.0) < col("rate"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },

    // INCREMENTAL near-dup (VERDICT r9 item 1): dedup a batch of NEW
    // docs against the STANDING corpus — the continuous-ingestion face
    // of the q30/q31 pipeline. The corpus's (band, bucket, doc_id)
    // minhash index is built once and persisted (in production it is a
    // table maintained across ingests — the streaming face with a real
    // on-disk index is streaming/IncrementalNearDup); each new doc's
    // bands PROBE the index, candidates verify by exact shingle
    // Jaccard, and the batch emits keep/drop + provenance. Never a
    // corpus self-join: cost = batch bands × bucket collision width,
    // linear in the batch at any corpus size (bucket sizes are
    // duplicate-group sizes, the q91-adjudicated LSH argument).
    "q93_incremental_neardup" -> { (s, d) =>
      val sh = PipelineQueries.shingleDocs(s, d)
      val newSh = sh.filter(isNewDoc(col("doc_id")))
      val corpusSh = sh.filter(!isNewDoc(col("doc_id")))
      // the standing index: persisted once, probed by every batch
      val index = graft.Caches.scopedPersist(
        Signatures.minhashBandBuckets(corpusSh, 16)
          .select(col("band"), col("bucket"), col("doc_id").as("corpus_id")))
      val probes = Signatures.minhashBandBuckets(newSh, 16)
        .select(col("band"), col("bucket"), col("doc_id").as("new_id"))
      val cand = probes.join(index, Seq("band", "bucket"))
        .select("new_id", "corpus_id").distinct()
      val a = newSh.select(col("doc_id").as("new_id"), col("sh").as("sh_a"))
      val b = corpusSh.select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val matches = cand.join(a, "new_id").join(b, "corpus_id")
        .withColumn("jaccard",
          inter / (size(col("sh_a")) + size(col("sh_b")) - inter))
        .filter(col("jaccard") >= 0.5)
        .groupBy("new_id")
        .agg(count(lit(1)).as("n_dups"), min("corpus_id").as("dup_of"),
          max("jaccard").as("best_jaccard"))
      // LEFT join from the full batch: docs with no signature (< 3
      // tokens) or no verified match are KEPT, like q74/q75's clean docs
      Tables.documents(s, d).filter(isNewDoc(col("doc_id"))).select("doc_id")
        .join(matches, col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("dup_of"), col("best_jaccard"),
          when(col("new_id").isNull, 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    },

    // CURATION FLAGSHIP REPLAY (q209) — the full streaming curation
    // chain (quality filter → incremental near-dup vs the growing
    // on-disk index → PII scrub + shard export) replayed as THREE
    // deterministic doc_id-residue batches and reduced to its per-batch
    // funnel (VERDICT r11 item 4; see
    // `streaming/CurationPipeline.curationReplay` for the promotion
    // argument). The oracle unrolls all three dedup rounds in SQL —
    // batch-b bands probe the UNION of earlier rounds' SURVIVORS, the
    // q93 Jaccard-0.5 verify behind — so a survivor missing from the
    // standing index, or a doc dropped against an already-dropped
    // duplicate, moves a counter and reds the row.
    "q209_curation_replay" -> { (s, d) =>
      graft.streaming.CurationPipeline.curationReplay(s, d)
    },

    // Duplicated-span REMOVAL — the curation step q75 only measures
    // (Lee et al.'s dedup-the-substrings pass): positions whose 3-gram
    // occurs in >= 2 distinct docs mark their covered tokens, covered
    // tokens merge into maximal intervals (gaps-and-islands: idx −
    // row_number is constant exactly on a consecutive run), intervals
    // spanning >= SpanRemovalMinTokens tokens are excised, and the doc
    // re-emits as cleaned text. Every stage is keyed by doc (window
    // partitions bounded by doc length) or by 56-bit hash (the dup-hash
    // count, partial-agg'd) — never doc×doc. The ordered re-assembly is
    // the q76 array_sort(collect_list(struct)) shape: deterministic,
    // no collect_list ordering assumption.
    "q94_span_removal" -> { (s, d) =>
      val sp = PipelineQueries.positionalShingleDocs(s, d)
      val pos = graft.Caches.scopedPersist(
        sp.select(col("doc_id"), posexplode(col("sp")).as(Seq("p", "h"))))
      val dupHashes = pos.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("h")
      // token indices covered by any duplicated 3-gram (position p
      // covers tokens p, p+1, p+2)
      val covered = pos.join(dupHashes, Seq("h"))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + 2)).as("idx"))
        .distinct()
      val win = Window.partitionBy("doc_id").orderBy("idx")
      val islands = covered
        .withColumn("grp", col("idx") - row_number().over(win))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min("idx").as("lo"), max("idx").as("hi"), count(lit(1)).as("len"))
        .filter(col("len") >= SpanRemovalMinTokens)
      val removed = islands.select(col("doc_id"),
        explode(sequence(col("lo"), col("hi"))).as("idx"))
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("idx", "tok")))
      val cleaned = toks.join(removed, Seq("doc_id", "idx"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ",
            transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
              x => x.getField("tok"))).as("clean_text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(cleaned, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    // PII scrubbing — the redaction pass every public curation pipeline
    // (C4, Dolma, RefinedWeb) runs. The corpus is synthetic, so each doc
    // deterministically carries one email, one IPv4 and one phone-shaped
    // run (identically derived in both engines); the operator counts
    // matches per class on the ORIGINAL text, then redacts with a
    // sequential regexp_replace chain. Pure codegen'd string expressions
    // — no UDF; patterns restricted to the Java-regex ∩ RE2 dialect
    // (character classes, bounded repetition, \b — no lookaround, no
    // backreferences) per the §7.3 cross-engine-determinism discipline.
    "q95_pii_scrub" -> { (s, d) =>
      val id = col("doc_id")
      val pii = concat(col("text"),
        lit(" contact user"), id.cast("string"), lit("@mail.example.org at "),
        lit("10."), (id % 256).cast("string"),
        lit("."), ((id * 7) % 256).cast("string"),
        lit("."), ((id * 13) % 256).cast("string"),
        lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((id * 17) % 10000).cast("string"), 4, "0"))
      import graft.operators.TextCuration
      Tables.documents(s, d)
        .select(id, pii.as("pii"))
        .select(id,
          TextCuration.piiCount(col("pii"), TextCuration.PiiEmail).as("n_email"),
          TextCuration.piiCount(col("pii"), TextCuration.PiiIpv4).as("n_ip"),
          TextCuration.piiCount(col("pii"), TextCuration.PiiPhone).as("n_phone"),
          TextCuration.scrubPii(col("pii")).as("clean_text"))
        .orderBy("doc_id")
    },

    // LINE-LEVEL DEDUP (q226, r14) — the C4/CCNet corpus-frequent-line
    // removal pass, the one standard curation operator q94 (intra-doc
    // span excision) did not cover: a CHUNK occurring in ≥ LineDupMinDocs
    // distinct docs is boilerplate (headers, nav bars, license blurbs)
    // and is dropped from EVERY doc, with the survivors reassembled
    // byte-exactly in chunk order. Chunks are consecutive 4-token
    // windows (see LineChunkTokens — the fixture has no newlines), keyed
    // by the 56-bit md5 (the q94 dup-hash rule: the frequency table is
    // partial-agg'd over hashes, and both engines share any collision by
    // construction). Shapes, at 100 TB: one explode pass → one hash-keyed
    // distinct+count (never doc×doc), the drop is a hash-keyed left-anti
    // join, and the reassembly is the q76/q94 array_sort(collect_list)
    // — per-doc bounded. The boilerplate table above threshold is TINY
    // by Zipf (frequent chunks are few), so the anti-join broadcast-sizes
    // in a real deployment. Reassembly contract: the fixture text is
    // single-space-joined tokens (FIXTURES.md), so a doc with n_dropped
    // = 0 round-trips byte-identical (LineDedupSpec pins it, plus a
    // planted boilerplate corpus firing the drop on every doc).
    "q226_line_dedup" -> { (s, d) =>
      val ch = graft.Caches.scopedPersist(lineChunks(Tables.documents(s, d)))
      val boiler = ch.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= LineDupMinDocs).select("h")
      val kept = ch.join(boiler, Seq("h"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ",
            transform(array_sort(collect_list(struct(col("ci"), col("chunk")))),
              x => x.getField("chunk"))).as("clean_text"))
      ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    // UNICODE NORMALIZATION (q227, r14) — the NFC + casefold pass real
    // pipelines run BEFORE any text hashing: without it, composed and
    // decomposed spellings of the same glyph (é as U+00E9 vs e+U+0301)
    // are different bytes, and every downstream exact-dedup / shingle /
    // fingerprint silently splits duplicate groups. The fixture corpus
    // is pure ASCII (where NFC is identity — honest but vacuous), so the
    // operator is exercised the q95 way: each doc deterministically
    // carries three planted spellings of the same prefix — composed,
    // combining-mark decomposed, and uppercase — identically derived in
    // both engines. normalize = lower(NFC(x)): Spark runs the native
    // graft_nfc expression (java.text.Normalizer, codegen'd — see
    // expressions/NfcNormalize), DuckDB its nfc_normalize; the gate
    // hash-compares the normalized BYTES plus the dedup-group delta
    // (3 raw forms → 1 normalized form per doc). Pure scalar map +
    // per-doc agg — no shuffle beyond the doc key at any scale.
    "q227_unicode_normalize" -> { (s, d) =>
      import graft.expressions.NfcNormalize
      val variants = Tables.documents(s, d)
        .select(col("doc_id"), explode(array(
          // composed U+00E9, decomposed e+U+0301, uppercase composed
          // U+00C9 — escapes, not raw literals, so the three spellings
          // stay visibly distinct in source
          concat(lit("Caf\u00e9 menu: "), col("text")),
          concat(lit("Cafe\u0301 menu: "), col("text")),
          concat(lit("CAF\u00c9 MENU: "), col("text")))).as("raw"))
      variants
        .select(col("doc_id"), col("raw"),
          lower(NfcNormalize(col("raw"))).as("norm"))
        .groupBy("doc_id")
        .agg(countDistinct(col("raw")).as("n_raw_forms"),
          countDistinct(col("norm")).as("n_norm_forms"),
          min(col("norm")).as("norm_text"))
        .select(col("doc_id"), col("n_raw_forms"), col("n_norm_forms"),
          (col("n_raw_forms") - col("n_norm_forms")).as("n_collapsed"),
          col("norm_text"))
        .orderBy("doc_id")
    },

    // Model-based quality filtering — the fasttext/DCLM-classifier pass
    // every modern curation pipeline runs after the rule-based filters
    // (q27): a LINEAR model over a hashed bag of words. Token → bucket
    // via the 56-bit md5 (cross-engine), bucket → weight via a
    // closed-form integer formula standing in for trained parameters
    // (the deploy shape is identical: the weight table is broadcast
    // either way, and a 1024-bucket real model would just swap the
    // formula for an array lookup). Score = Σ w(bucket(tok)); margin =
    // score / n_tokens (one IEEE division of exact integers — the q91
    // hash-stability precedent). Explode → map → partial-agg: map-side
    // combine does the heavy lifting, the shuffle carries one partial
    // sum per (doc, task). No UDF, no weight shuffle, linear in tokens.
    "q98_quality_classifier" -> { (s, d) =>
      graft.operators.TextCuration.qualityScores(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens"), col("score"),
          (col("score").cast("double") / col("n_tokens").cast("double"))
            .as("margin"),
          when(col("score") > 0, 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    },

    // Deterministic global shuffle + shard assignment — the training-
    // export step after curation: every doc gets a reproducible shuffle
    // key (56-bit md5 of a salted id — NOT rand(), so the run is
    // replayable across engines, retries, and cluster sizes), shard =
    // key % 8, position = rank within the shard by (key, doc_id). The
    // window is partitioned by SHARD — at scale that is exactly the
    // repartition + sortWithinPartitions the physical shard write
    // performs (one shuffle keyed by shard, one sort per output file);
    // with production shard counts (1024+) each partition is
    // corpus/shards, never a single hot partition.
    "q99_shard_export" -> { (s, d) =>
      val key = graft.operators.TextCuration.shuffleKey(col("doc_id"))
      val win = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), key.as("shuffle_key"))
        .withColumn("shard", col("shuffle_key") % curriculumShards)
        .withColumn("pos", row_number().over(win).cast("long"))
        .select("doc_id", "shard", "shuffle_key", "pos")
        .orderBy("shard", "pos")
    },

    // SEQUENCE PACKING (q245, r15) — the step between q69's chunking and
    // q99's shard export that real pretraining runs: pack variable-length
    // documents into fixed-token-budget contexts, emitting exactly what a
    // training loader consumes — (shard, context_id, position, doc_id,
    // tok_start, tok_end) — plus the fill-rate/waste audit per context.
    // Composes the standing machinery: q26's tokenization gives lengths,
    // q99's (shuffle_key, doc_id) export order gives the arrival order
    // the greedy walk packs in, and q78's keyed-fold discipline gives the
    // scale shape (sequential per SHARD because each span depends on
    // every prior assignment — a window cannot reference its own output,
    // so there is no running-sum closed form — and exactly as parallel
    // as the export: shards pack independently, state two longs/task;
    // see operators/Packing.packSpans). Docs longer than the budget
    // truncate to it with the loss reported (n_trunc_tokens — zero on
    // this fixture where max doc ≈ 100 < 512; SequencePackingSpec plants
    // the firing case). The per-context fill/waste columns are one
    // (shard, context) window over the packed rows — context count is
    // corpus/budget-bounded, and LAST contexts' waste is real waste (an
    // export ships them padded). Oracle: the identical walk as a
    // recursive CTE over q99's rn order — depth = docs/shard, shards
    // advance in parallel (the q37/q78 walk pattern).
    "q245_sequence_packing" -> { (s, d) =>
      packReport(Packing.packSpans(packStaged(s, d), PackTokenBudget))
    },

    // STREAMED SEQUENCE PACKING (q247, r15) — q245's walk ON the
    // unbounded ingest (the q241/q243 promotion rule): a pipeline that
    // packs as documents ARRIVE holds exactly one (context, fill) pair
    // of ValueState per shard — state O(shards), constant in stream
    // length, the deploy shape of a continuous export. The corpus
    // replays as two real micro-batches split by a pos threshold (each
    // batch a per-shard PREFIX of the export order — the only split
    // under which streamed packing is well-defined), through the
    // RocksDB ValueState engine; a context OPEN at the batch seam keeps
    // filling in the next batch, which is exactly what the shared
    // oracle text discriminates (a fill or context counter lost across
    // the RocksDB round-trip re-bases every later span in that shard).
    // Report = the SAME packReport over the drained spans, so both
    // faces share q245's oracle text VERBATIM.
    "q247_packing_stream" -> { (s, d) =>
      packReport(graft.streaming.StreamingPacking.packReplay(s, d))
    },

    // SPLIT PACKING (q248, r15) — the OTHER standard packing policy
    // (GPT-2/3-style concat-and-chunk): the shard's documents
    // concatenate into one token stream cut every 512 tokens, so a doc
    // MAY span contexts — zero waste except each shard's tail, at the
    // price of cross-boundary fragments the attention mask must handle.
    // Where q245's greedy walk is inherently sequential, THIS policy is
    // a closed form: a doc's global offset is a plain prefix sum (one
    // per-shard window), its touched contexts are
    // sequence(start div B, (end−1) div B), and the fragment geometry
    // is min/max arithmetic per (doc, context) row — pure codegen'd
    // window + explode, no fold, no recursion, trivially 100 TB-shaped
    // (one keyed shuffle for the window; the explode emits ≤
    // ceil(len/B)+1 rows per doc). is_head/is_tail flags mark the
    // fragments a loader masks across. NO truncation anywhere — a doc
    // longer than the budget simply spans more contexts; that is the
    // policy's defining advantage over q245's clamp, and both faces use
    // the raw length (r15 review: the oracle briefly clamped — an
    // engine/oracle divergence latent on this ≤100-token fixture).
    "q248_packing_split" -> { (s, d) =>
      splitReport(splitFragments(packStaged(s, d)))
    },

    // STREAMED SPLIT PACKING (q251, r16) — q248's concat-and-chunk walk
    // ON the unbounded ingest (the q247 promotion applied to the OTHER
    // policy; VERDICT r15 item 3): one long of ValueState per shard —
    // the shard's global token offset — replayed as the same two
    // RocksDB micro-batches as q247. The seam discriminator is sharper
    // than q247's open context: an open FRAGMENT crosses the batch
    // boundary (the first post-seam doc starts mid-context at the
    // carried offset), so an offset lost, re-based to 0, or rounded up
    // to the next context boundary shifts that doc's tok_start AND
    // context_id and every fragment after it — which the shared oracle
    // text catches (q248's SQL VERBATIM; the two faces' golden hashes
    // are identical). Report = the SAME splitReport over the drained
    // fragments, so both faces' output is definitionally the same
    // function of their fragment sets. State O(shards), constant in
    // stream length — 8 longs at the gate, 1024+ in production.
    "q251_split_stream" -> { (s, d) =>
      splitReport(graft.streaming.StreamingPacking.splitReplay(s, d))
    },

    // TRAINING-EXPORT FLAGSHIP (q252, r16 — VERDICT r15 item 5): the
    // ONE funnel a production LLM-data owner actually ships, raw docs →
    // packed sharded contexts, composed ENTIRELY from stages that are
    // individually oracled: q98's quality classifier at the q209 median
    // gate → q30/q31 verified-pair near-dup (keep-first among
    // survivors: doc_b drops iff a verified pair with a smaller-id doc
    // that ALSO passed quality — dedup never consults dead docs) →
    // q95's PII scrub (the corpus is synthetic and PII-free, so the
    // scrub stage plants the q95 suffix on each export, the same
    // derivation q95 gates; upstream stages see the pristine text the
    // other oracles share) → q99's shard key + export order → q245's
    // greedy walk at the gate budget. Output: one row per shard with
    // the per-stage funnel counters and the packed-context footprint —
    // the report a training run's data card prints. Stage order is
    // q209's production order (quality first/cheapest; dedup on
    // original text — redaction must not mask a near-dup; scrub last so
    // nothing downstream sees raw PII). Scale: every stage is the gate
    // query's own shape (partial-agg'd classifier, banded LSH, regex
    // map, per-shard fold); the single driver-side action is the q209
    // 1-row median gate. The oracle replays all five stages in one SQL
    // text — a doc kept that should have dropped at ANY stage moves a
    // counter, a packing drift moves n_contexts/waste_ppm.
    "q252_training_export" -> { (s, d) =>
      val B = PackTokenBudget
      import graft.operators.TextCuration
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val scores = graft.Caches.scopedPersist(
        TextCuration.qualityScores(docs).select("doc_id", "score"))
      // the q209 offline-calibrated gate: 1-row driver action (q133 rule)
      val minScore = scores.agg(floor(expr("percentile(score, 0.5)")).cast("long"))
        .head.getLong(0)
      val surv = scores.filter(col("score") > minScore).select("doc_id")
      val dupDrops = PipelineQueries.verifiedPairs(s, d)
        .join(surv.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(surv.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .select(col("doc_b").as("doc_id")).distinct()
      val exported = surv.join(dupDrops, Seq("doc_id"), "left_anti")
      val id = col("doc_id")
      // the q95 planted-PII derivation, verbatim
      val pii = concat(col("text"),
        lit(" contact user"), id.cast("string"), lit("@mail.example.org at "),
        lit("10."), (id % 256).cast("string"),
        lit("."), ((id * 7) % 256).cast("string"),
        lit("."), ((id * 13) % 256).cast("string"),
        lit(" call 555-"), lpad((id % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((id * 17) % 10000).cast("string"), 4, "0"))
      val cleaned = docs.join(exported, "doc_id")
        .select(id,
          (TextCuration.piiCount(pii, TextCuration.PiiEmail)
            + TextCuration.piiCount(pii, TextCuration.PiiIpv4)
            + TextCuration.piiCount(pii, TextCuration.PiiPhone)).as("n_pii"),
          TextCuration.scrubPii(pii).as("clean_text"))
      // export order + packing over the SCRUBBED text (pack what ships)
      val staged = graft.Caches.scopedPersist(cleaned
        .select(id, col("n_pii"),
          TextCuration.shuffleKey(id).as("shuffle_key"),
          size(TextOps.tokens(col("clean_text"))).cast("long").as("n_tokens"))
        .withColumn("shard", col("shuffle_key") % curriculumShards)
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy("shuffle_key", "doc_id"))
          .cast("long")))
      val packed = Packing.packSpans(
          staged.select("shard", "pos", "doc_id", "n_tokens"), B)
        .groupBy("shard")
        .agg(sum(col("n_tokens")).as("total_tokens"),
          (max(col("context_id")) + 1L).as("n_contexts"))
      val expSh = staged.groupBy("shard")
        .agg(count(lit(1)).as("n_exported"), sum(col("n_pii")).as("n_pii_hits"))
      // funnel counters per shard over ALL docs (every doc has a shard)
      val base = docs.select(id,
        (TextCuration.shuffleKey(id) % curriculumShards).as("shard"))
      val fIn = base.groupBy("shard").agg(count(lit(1)).as("n_input"))
      val fSurv = base.join(surv, "doc_id").groupBy("shard")
        .agg(count(lit(1)).as("n_pass"))
      val fDup = base.join(dupDrops, "doc_id").groupBy("shard")
        .agg(count(lit(1)).as("n_dup_dropped"))
      fIn.join(fSurv, Seq("shard"), "left").join(fDup, Seq("shard"), "left")
        .join(expSh, Seq("shard"), "left").join(packed, Seq("shard"), "left")
        .select(col("shard"), col("n_input"),
          (col("n_input") - coalesce(col("n_pass"), lit(0L)))
            .as("n_quality_dropped"),
          coalesce(col("n_dup_dropped"), lit(0L)).as("n_dup_dropped"),
          coalesce(col("n_exported"), lit(0L)).as("n_exported"),
          coalesce(col("n_pii_hits"), lit(0L)).as("n_pii_hits"),
          coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
          coalesce(col("n_contexts"), lit(0L)).as("n_contexts"))
        .withColumn("waste_ppm", expr(
          s"(n_contexts * $B - total_tokens) * 1000000 div greatest(n_contexts * $B, 1)"))
        .orderBy("shard")
    },

    // PACKING-POLICY PLANNER (q249, r15; masses split in r16) — the
    // report an export owner reads before picking a policy: per shard,
    // the contexts each policy emits against its information-theoretic
    // floor. The two policies genuinely ship DIFFERENT token masses
    // when a doc exceeds the budget — greedy truncates (q245's clamp),
    // split never does (q248's defining property) — so the planner
    // carries BOTH masses explicitly (ADVICE r15 #2, which caught the
    // split side modeling the truncated mass q248 doesn't ship):
    // `total_tokens` is the RAW corpus mass and `n_ctx_floor` its
    // ceil(total/B) floor, which split packing SITS on by construction
    // (so n_ctx_floor === q248's context count on ANY corpus, not just
    // a ≤budget fixture); `total_tokens_packed` is the truncated mass
    // greedy actually packs, and n_ctx_extra/greedy_waste_ppm measure
    // greedy against ITS OWN floor — rollover waste, never conflated
    // with truncation loss. n_frag_docs counts q248's real
    // boundary-crossing docs (raw offsets). Split's cost is those
    // fragments; greedy's is the extra contexts. All exact integers.
    "q249_packing_policy" -> { (s, d) =>
      val B = PackTokenBudget
      // one persisted staging feeds both policy branches (r15 review:
      // the tokenize + rank-window staging ran once per branch)
      val staged = graft.Caches.scopedPersist(packStaged(s, d))
      val greedy = Packing.packSpans(staged, B)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens_packed"),
          (max(col("context_id")) + 1L).as("n_ctx_greedy"))
      // split side over RAW lengths — exactly q248's prefix sums. The
      // greatest(n_tokens, 1) in the fragment test keeps a zero-token
      // doc non-fragmenting instead of tripping the div-rounding
      // divergence between engines (the q248 sequence guard's twin;
      // unreachable while split(text,' ') can't be empty, mirrored
      // verbatim in the oracle).
      val w = Window.partitionBy("shard").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val split = staged
        .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("shard"), col("n_tokens"),
          (expr(s"start_off div $B") =!=
            expr(s"(start_off + greatest(n_tokens, 1) - 1) div $B"))
            .cast("long").as("f"))
        .groupBy("shard").agg(sum(col("n_tokens")).as("total_tokens"),
          sum(col("f")).as("n_frag_docs"))
      greedy.join(split, "shard")
        .select(col("shard"), col("n_docs"), col("total_tokens"),
          col("total_tokens_packed"),
          expr(s"(total_tokens + $B - 1) div $B").as("n_ctx_floor"),
          col("n_ctx_greedy"),
          (col("n_ctx_greedy") - expr(s"(total_tokens_packed + $B - 1) div $B"))
            .as("n_ctx_extra"),
          expr(s"(n_ctx_greedy * $B - total_tokens_packed) * 1000000 div (n_ctx_greedy * $B)")
            .as("greedy_waste_ppm"),
          col("n_frag_docs"),
          expr("n_frag_docs * 1000000 div n_docs").as("split_frag_ppm"))
        .orderBy("shard")
    },

    // INCREMENTAL LINE DEDUP (q246, r15) — q226's boilerplate pass as a
    // production pipeline runs it: the corpus replayed as FOUR
    // deterministic doc_id-range batches (the q170 width rule) through
    // streaming/StreamingLineDedup — each batch cleaned against the
    // STANDING on-disk chunk-frequency index under exactly-once
    // COMMITTED-marker versions, then folded in. The defining semantics
    // (documented on the engine): drop decisions use PRIOR-batch
    // knowledge only, so a chunk crossing the threshold in batch b is
    // dropped from FUTURE docs only — already-emitted docs never
    // rewrite. The oracle replays exactly that as a per-(chunk, batch)
    // cumulative window over the batch order: non-vacuous at every SF
    // (sf0.01: 0/7/10/16 positions dropped across batches 0–3 — batch 0
    // honestly drops nothing, it has no prior knowledge). The state dir
    // is (session, dir)-memoized (the q243 stance), so bench reps pay
    // the four-batch fold once and re-read the committed ledger.
    "q246_line_dedup_stream" -> { (s, d) =>
      val dir = graft.Caches.memo(s, d, "q246_state_dir") {
        val root = java.nio.file.Files.createTempDirectory("graft_q246_")
        graft.TempDirs.cleanupOnExit(root)
        root.toString + "/state"
      }
      val docs = Tables.documents(s, d).select("doc_id", "text")
      graft.streaming.EventStreams.idRangeBatches(docs, "doc_id", 4).zipWithIndex
        .foreach { case (batch, b) =>
          graft.streaming.StreamingLineDedup.processBatch(batch, dir, b.toLong)
        }
      graft.streaming.StreamingLineDedup.report(s, dir)
        .select("doc_id", "batch", "n_chunks", "n_dropped", "clean_text")
        .orderBy("doc_id")
    },

    // LENGTH-BUCKETED BATCH PADDING (q250, r15) — the INFERENCE/eval
    // side of the packing family: serving and eval harnesses don't
    // concat-pack, they PAD every sequence in a fixed-size batch to the
    // batch max, so the cost lever is batch COMPOSITION. Per shard, the
    // padding bill for batches of 16 under the two standard policies:
    // arrival order (streamy, no buffering) vs length-sorted (the
    // dynamic-batching trick). Sorted is PROVABLY optimal among
    // equal-size batchings — consecutive blocks of the sorted order
    // select the smallest possible set of block maxima (the every-16th
    // order statistics; any other partition's i-th largest block max
    // dominates them) — so the spec asserts sorted ≤ arrival per shard
    // and the report quantifies what the reorder buys (fixture: ~40%
    // of the padding bill). Closed-form end to end: two windows, two
    // keyed aggs — no fold, no join beyond the 8-row report combine.
    "q250_length_batching" -> { (s, d) =>
      val n = InferBatchDocs
      // lengths clamp at the context budget — a sequence longer than the
      // model window is truncated by serving before it is ever batched,
      // so the padding bill is over clamped lengths on BOTH faces (r15
      // review); one persisted staging feeds both policy branches
      val staged = graft.Caches.scopedPersist(packStaged(s, d)
        .withColumn("n_tokens", least(col("n_tokens"), lit(PackTokenBudget))))
      def pad(df: DataFrame, b: String, out: String) =
        df.groupBy(col("shard"), col(b))
          .agg(count(lit(1)).as("bn"), max("n_tokens").as("bmax"),
            sum("n_tokens").as("bsum"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_batches"), sum(col("bn")).as("n_docs"),
            sum(col("bsum")).as("total_tokens"),
            sum(expr("bmax * bn - bsum")).as(out))
      val arr = pad(staged.withColumn("abatch", expr(s"(pos - 1) div $n")),
        "abatch", "arrival_pad_tokens")
      val ws = Window.partitionBy("shard")
        .orderBy(col("n_tokens").desc, col("doc_id"))
      val srt = pad(staged
          .withColumn("srank", row_number().over(ws).cast("long"))
          .withColumn("sbatch", expr(s"(srank - 1) div $n")),
        "sbatch", "sorted_pad_tokens")
        .select("shard", "sorted_pad_tokens")
      arr.join(srt, "shard")
        .select(col("shard"), col("n_docs"), col("n_batches"),
          col("total_tokens"), col("arrival_pad_tokens"),
          col("sorted_pad_tokens"),
          expr("""(arrival_pad_tokens - sorted_pad_tokens) * 1000000
                  div greatest(arrival_pad_tokens, 1)""").as("pad_saved_ppm"))
        .orderBy("shard")
    },

    // HYBRID dedup policy — the decision layer a production pipeline
    // actually ships: a doc is dropped when EITHER signal fires — a
    // verified text near-dup with a smaller-id original (the q30/q31
    // two-phase pipeline, keep-first) OR a semantic dup in its IVF cell
    // (the q77 SemDeDup decision), linked doc_id = vec_id. Both signals
    // read SESSION-SHARED relations (the verified-pair relation and the
    // IVF assignment), so the policy layer adds two keyed left joins —
    // no signal is recomputed. Both branches fire at sf0.01: the corpus
    // plants text near-dups and the 0.45 cosine tail is populated.
    "q101_hybrid_dedup" -> { (s, d) =>
      val textDup = PipelineQueries.verifiedPairs(s, d)
        .groupBy("doc_b").agg(min("doc_a").as("text_dup_of"))
        .withColumnRenamed("doc_b", "doc_id")
      val sem = Ann.semanticDedupAssigned(
        graft.similarity.IvfIndex.assignments(s, d), SemThreshold)
        .select(col("vec_id").as("doc_id"), (lit(1L) - col("kept")).as("sem_dup"))
      Tables.documents(s, d).select("doc_id")
        .join(textDup, Seq("doc_id"), "left")
        .join(sem, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("text_dup_of").isNotNull, 1L).otherwise(0L).as("text_dup"),
          col("text_dup_of"),
          coalesce(col("sem_dup"), lit(0L)).as("sem_dup"),
          when(col("text_dup_of").isNull
            && coalesce(col("sem_dup"), lit(0L)) === 0, 1L).otherwise(0L).as("kept"))
        .orderBy("doc_id")
    },

    // Content-defined chunking (the FastCDC/rolling-hash shape): chunk
    // boundaries fall where a token's hash lands in a residue class, so
    // chunk identity is INSERTION-ROBUST — shifting a doc's prefix
    // changes which chunks exist near the edit, not every chunk after
    // it (fixed-width chunking q69 re-keys everything downstream of an
    // edit; shingle dedup q30 pays per-position hashes). Per doc:
    // boundary bits → cumulative chunk ids (per-doc window, bounded by
    // doc length) → chunk text re-assembled (the q76/q94 array_sort
    // shape) → 56-bit chunk hash. Cross-doc sharing is then an exact
    // groupBy on chunk hash — partial-agg'd, never doc×doc. Report:
    // per doc, chunks and the fraction shared with ANY other doc.
    // Min-chunk-size clamp (the production FastCDC rule, VERDICT r10
    // item 5): a raw residue-class boundary is SUPPRESSED when the
    // previous RAW boundary is closer than MinChunkTokens, so adjacent
    // boundary tokens can no longer spawn 1-token chunks whose
    // "sharing" is common-word noise. The clamp is a lagged-distance
    // filter over raw boundaries — fully relational, one extra window
    // column, both engines replay it identically. (True sequential
    // FastCDC measures from the previous KEPT boundary — a chain; the
    // fixed raw-lag rule is its deterministic relational stand-in.
    // Max-size is the residue parameter's job — mean chunk ≈ 16
    // tokens; production adds a hard cap the same way.)
    "q100_cdc_chunking" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("idx", "tok")))
      val rawBoundary = when(TextOps.hash56(col("tok")) % 16 === 0, 1L).otherwise(0L)
      val win = Window.partitionBy("doc_id").orderBy("idx")
      val prevRaw = last(when(col("raw_bd") === 1L, col("idx")), ignoreNulls = true)
        .over(win.rowsBetween(Window.unboundedPreceding, -1))
      val boundary = when(col("raw_bd") === 1L
        && (col("prev_raw").isNull
          || col("idx") - col("prev_raw") >= MinChunkTokens), 1L).otherwise(0L)
      val chunks = toks
        .withColumn("raw_bd", rawBoundary)
        .withColumn("prev_raw", prevRaw)
        .withColumn("chunk", sum(boundary).over(win))
        .groupBy(col("doc_id"), col("chunk"))
        .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
            x => x.getField("tok"))).as("chunk_text"))
        .select(col("doc_id"), TextOps.hash56(col("chunk_text")).as("ch"))
      val hashed = graft.Caches.scopedPersist(chunks)
      val shared = hashed.select("doc_id", "ch").distinct()
        .groupBy("ch").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("ch")
      val perDoc = hashed.join(shared, Seq("ch"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      hashed.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)).cast("double")
            / col("n_chunks").cast("double")).as("shared_fraction"))
        .orderBy("doc_id")
    },

    // Train/val/test SPLIT — the last step before training: every doc
    // lands in exactly one split by its md5 fraction (80/10/10 range
    // cuts), stratified by lang because the cuts apply WITHIN each
    // lang's hash distribution — reproducible across engines, runs,
    // and cluster sizes (rand() would be none of those), map-only, and
    // leakage-free by construction (one hash, disjoint ranges). The
    // report is per-(lang, split) counts; the per-doc assignment is
    // the same expression any exporter would filter on.
    "q120_train_split" -> { (s, d) =>
      val frac = TextOps.hash56(concat(lit("split:"), col("doc_id").cast("string")))
        .cast("double") / lit(72057594037927936.0d)
      Tables.documents(s, d)
        .select(col("lang"),
          when(frac < 0.8, "train").when(frac < 0.9, "val")
            .otherwise("test").as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    },

    // Data-quality ASSERTIONS (the Deequ/dbt-test shape) — the checks a
    // pipeline runs on every ingest, all in ONE pass with conditional
    // aggregation (never one scan per check): null keys, out-of-domain
    // lang values, n_chars disagreeing with the actual text length,
    // duplicate ids, and empty docs. Long-form report (check_name,
    // n_violations, pass) so a monitor alerts on any pass=0 row.
    "q121_dq_checks" -> { (s, d) =>
      graft.operators.TextCuration.dqChecks(Tables.documents(s, d))
    },

    // Streaming DQ HISTORY promoted into the oracle gate (VERDICT r10
    // item 8, the q63 promotion precedent): the documents feed replayed
    // as 4 deterministic micro-batches through the DqMonitor's own
    // batch body, history read back — and the oracle recomputes each
    // batch's five checks with one GROUP BY, so the gate proves N
    // streamed per-batch reports ≡ the batch truth (stream/batch
    // parity, the q25/q61 contract). The monitor's scale shape is the
    // q121 one: each batch is ONE conditional-aggregation scan, the
    // report is 5 rows, and history grows 5 rows per batch forever.
    "q125_dq_history" -> { (s, d) =>
      graft.streaming.DqMonitor.boundedHistory(s, d, 4)
    },

    // DSIR importance RESAMPLING (Xie et al. 2023) — select data that
    // looks like a TARGET domain: per doc, the importance of its
    // tokens under two unigram models (target = the 'en' slice, source
    // = the whole corpus, add-1 smoothed over the shared vocabulary so
    // unseen-in-target tokens stay defined), then keep the top-20%
    // most target-like. Determinism form: the paper scores with
    // Σ log(pt/ps); this implementation scores with the mean RATIO
    // Σ pt/ps / n — each per-token ratio is ONE IEEE division of two
    // exact BIGINT products ((ct+1)(Ts+V)) / ((cs+1)(Tt+V)), bit-equal
    // across engines (the no-libm-log rule: ln r ≈ r−1 near r = 1, so
    // the ranking the 20% cut consumes is locally order-equivalent),
    // rounded to 6dp and DECIMAL-summed (order-independent Σ, the q47
    // rule). The keep threshold is one exact-percentile agg broadcast
    // back (map-side flag, the q127 shape). Scale: two partial-agg'd
    // count passes + one token-keyed model join — the q127 shuffle
    // plan; V, Ts, Tt ride a 1-row broadcast.
    "q137_dsir_resample" -> { (s, d) =>
      val toks = graft.Caches.scopedPersist(
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(TextOps.tokens(col("text"))).as("tok")))
      val src = toks.groupBy("tok").agg(count(lit(1)).as("cs"))
      val tgt = toks.filter(col("lang") === "en")
        .groupBy("tok").agg(count(lit(1)).as("ct"))
      val model = src.join(tgt, Seq("tok"), "left")
        .select(col("tok"), col("cs"), coalesce(col("ct"), lit(0L)).as("ct"))
      val stats = toks.agg(
        count(lit(1)).as("ts"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"),
        countDistinct(col("tok")).as("v"))
      val ratio = ((col("ct") + 1L) * (col("ts") + col("v"))).cast("double") /
        ((col("cs") + 1L) * (col("tt") + col("v"))).cast("double")
      val perDoc = graft.Caches.scopedPersist(
        toks.join(model, "tok").crossJoin(broadcast(stats))
          .select(col("doc_id"), col("lang"),
            round(ratio, 6).cast("decimal(28,10)").as("r"))
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_tok"), sum("r").as("sum_r"))
          .withColumn("avg_r",
            col("sum_r").cast("double") / col("n_tok").cast("double")))
      val cut = perDoc.agg(expr("percentile(avg_r, 0.8)").as("t"))
      perDoc.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("sum_r").cast("double").as("sum_r"), col("avg_r"),
          when(col("avg_r") > col("t"), 1L).otherwise(0L).as("sampled"))
        .orderBy("doc_id")
    },

    // Unigram-LM quality TIERS — the CCNet bucket operator: each doc
    // scored by its average token surprisal under the corpus's OWN
    // unigram model, then cut at the exact tertiles into head (most
    // fluent) / middle / tail — the canonical LM-based curation pass
    // that decides what a web crawl keeps. Cross-engine exactness:
    // surprisal is QUANTIZED to integer bits — floor(log2(T/c)) as
    // length(bin(T div c)) − 1, pure integer arithmetic on both
    // engines (the q42 no-libm-log rule) — so per-doc sums are exact
    // BIGINTs and avg_bits is ONE final IEEE division. Tier cuts come
    // from one exact-percentile aggregation (the q46
    // percentile↔quantile_cont agreement), broadcast back as a 1-row
    // crossJoin: assignment is map-side, no global ntile sort. Scale:
    // token counts partial-agg; the model join shuffles on token (no
    // broadcast — vocabulary is unbounded at web scale, the q42 rule);
    // at 100 TB the exact percentile swaps for approx_percentile (the
    // q114 exact→approx tier trade).
    // PER-LABEL EMBEDDING CENTROIDS (q148) — the class-prototype /
    // drift-monitoring statistic (nearest-centroid classifiers, cluster
    // drift dashboards): the element-wise mean vector per label. The
    // embedding column posexplodes to (label, dim, x) — a d× expansion
    // bounded by embedding width, the q123 Gram rule — and each
    // (label, dim) cell partial-aggregates a decimal sum (float→double
    // widening is IEEE-exact, 7dp round then DECIMAL so Σ is
    // shuffle-order-independent, the q47 rule); the mean is ONE IEEE
    // division. Output is |labels|·d rows — driver-sized at any corpus
    // scale; the corpus pass is map-side-combined.
    // EMBEDDING HEALTH AUDIT (q184) — the vector-quality gate an
    // ingest runs before indexing (q33/q108 assume sane vectors; this
    // PROVES it): per label, exact squared-norm stats. Each vector's
    // ‖x‖² is a partial-agg'd sum of DECIMAL(38,20) squares under
    // q148's 7dp-round rule — exact, shuffle-order-free — then
    // FLOOR-QUANTIZED to 1e6 micro-units (the q172 rule: casting a
    // 20-scale decimal to double rounds differently across engines in
    // the last ulp — observed live here on max_norm2 — while
    // floor(·1e6) on the exact decimal is identical BIGINTs). The
    // label report is one more partial-agg'd pass over exact integers:
    // n, mean (ONE IEEE division of exact BIGINTs), min/max, and the
    // UNIT-NORM CONTRACT count — vectors whose quantized ‖x‖² ≠ 1e6
    // micro-units, the flag that catches un-normalized, truncated, or
    // zeroed vectors before they poison cosine math (a near-zero cut
    // was rejected: the fixtures are all unit-norm, so that branch
    // could never fire — the q121 vacuous-branch rule; this cut splits
    // every label at every SF). Both aggregation layers are map-side
    // combining; nothing joins.
    "q184_embedding_health" -> { (s, d) =>
      val norms = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          explode(col("embedding")).as("xf"))
        .select(col("vec_id"), col("label"),
          round(col("xf").cast("double"), 7).cast("decimal(20,10)").as("x"))
        .groupBy("vec_id", "label")
        .agg(expr("CAST(floor(sum(CAST(x * x AS DECIMAL(38,20))) * 1000000) AS BIGINT)")
          .as("norm2_u"))
      norms.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("norm2_u")).as("sum_u"),
          min(col("norm2_u")).as("min_norm2_u"),
          max(col("norm2_u")).as("max_norm2_u"),
          sum(when(col("norm2_u") =!= 1000000L, 1L).otherwise(0L)).as("n_off_unit"))
        .select(col("label"), col("n_vecs"),
          expr("CAST(sum_u AS DOUBLE) / CAST(n_vecs AS DOUBLE)").as("mean_norm2_u"),
          col("min_norm2_u"), col("max_norm2_u"), col("n_off_unit"),
          expr("n_off_unit * 1000000 div n_vecs").as("off_unit_ppm"))
        .orderBy("label")
    },

    // CLASS-CONFUSABILITY MATRIX (q188) — the label-geometry read
    // beside the health audit (q184) and the drift report (q172):
    // cosine similarity between every pair of label centroids — the
    // number that says WHICH classes an embedding space cannot tell
    // apart (high centroid cosine ⇒ expect q164-style label
    // disagreement there). Corpus work ends at the centroid pass
    // (q148 arithmetic, q172 micro-quantization: exact DECIMAL means
    // floor-quantized to BIGINT micro-units); the pair stage runs on
    // the L·d ≤ 640-row quantized table — a dim-keyed self-join with
    // label_a < label_b, then cos = dot/(√·√) as ONE fixed IEEE dag on
    // exact integers, bit-equal across engines. Never vectors×vectors.
    "q188_centroid_similarity" -> { (s, d) =>
      val cent = graft.Caches.scopedPersist(
        Tables.embeddings(s, d)
          .select(col("label").cast("long").as("label"), posexplode(col("embedding")))
          .select(col("label"), col("pos").cast("long").as("dim"),
            round(col("col").cast("double"), 7).cast("decimal(20,10)").as("x"))
          .groupBy("label", "dim")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"))
          .select(col("label"), col("dim"),
            floor(col("sx").cast("double") / col("n").cast("double")
              * lit(1000000.0d)).cast("long").as("mq")))
      val norms = cent.groupBy("label")
        .agg(sum(col("mq") * col("mq")).as("nsq"))
      val a = cent.select(col("label").as("label_a"), col("dim"), col("mq").as("ma"))
      val b = cent.select(col("label").as("label_b"), col("dim"), col("mq").as("mb"))
      a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(sum(col("ma") * col("mb")).as("dot_q"))
        .join(broadcast(norms.select(col("label").as("label_a"), col("nsq").as("na"))), "label_a")
        .join(broadcast(norms.select(col("label").as("label_b"), col("nsq").as("nb"))), "label_b")
        .select(col("label_a"), col("label_b"), col("dot_q"),
          expr("CAST(dot_q AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))")
            .as("cos_sim"))
        .orderBy("label_a", "label_b")
    },

    "q148_label_centroids" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("dim"),
          round(col("col").cast("double"), 7).cast("decimal(20,10)").as("x"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"))
        .select(col("label"), col("dim"), col("n"),
          (col("sx").cast("double") / col("n").cast("double")).as("mean_x"))
        .orderBy("label", "dim")
    },

    // PER-LABEL CENTROID DRIFT (q172) — the EMBEDDING face of q167's
    // token drift (semantic monitoring: did a class's representation
    // move between two corpus slices?): per label, the squared L2
    // distance between the half-A and half-B centroids under the
    // vec_id % 2 split (the q146 split rule). Means follow q148's
    // arithmetic exactly (7dp round → DECIMAL partial sums → ONE IEEE
    // division) and then floor-quantize to 1e6 micro-units, so the
    // 64-term distance sum runs on exact BIGINTs — a double Σ over
    // dims would be shuffle-order-dependent (the q47 rule). One
    // posexplode pass (d×-bounded, the q123 rule) → a |labels|·2·d
    // cell table → one keyed join + one partial-agg'd rollup, all
    // driver-sized past the first scan.
    "q172_centroid_drift" -> { (s, d) =>
      val half = graft.Caches.scopedPersist(
        Tables.embeddings(s, d)
          .select(col("label").cast("long").as("label"),
            (col("vec_id") % 2).as("half"), posexplode(col("embedding")))
          .select(col("label"), col("half"), col("pos").cast("long").as("dim"),
            round(col("col").cast("double"), 7).cast("decimal(20,10)").as("x"))
          .groupBy("label", "half", "dim")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"))
          .select(col("label"), col("half"), col("dim"), col("n"),
            floor(col("sx").cast("double") / col("n").cast("double")
              * lit(1000000.0d)).cast("long").as("mq")))
      val a = half.filter(col("half") === 0)
        .select(col("label"), col("dim"), col("n").as("n_a"), col("mq").as("ma"))
      val b = half.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("n").as("n_b"), col("mq").as("mb"))
      a.join(b, Seq("label", "dim"))
        .groupBy("label")
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
          sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("shift_sq_q"))
        .orderBy("label")
    },

    // HELD-OUT PERPLEXITY EVAL (q146) — the eval-harness twin of q127:
    // train the unigram model on HALF the corpus (even doc_ids), score
    // the held-out half with it — the generalization measurement every
    // LM data pipeline runs (and the add-1-smoothed OOV path q127's
    // self-scoring can never exercise). Per held-out token the smoothed
    // surprisal quantizes to integer bits, floor(log₂((T+V)/(c+1))) =
    // length(bin((T+V) div (c+1)))−1 — pure integer arithmetic on both
    // engines (the q127 no-libm rule); an unseen token scores the
    // ceiling bits of c=0 and counts into oov. Per-lang report: mean
    // bits as ONE IEEE division of exact BIGINTs, OOV rate likewise.
    // Scale: one count pass over train, one token-keyed LEFT model
    // join over held-out, T/V on a 1-row broadcast. Shared operator
    // ([[graft.operators.TextCuration.heldoutPerplexity]]) so the
    // planted-OOV spec exercises the unseen-token branch the fixture's
    // fully-shared vocabulary never can (the q121 rule).
    "q146_heldout_perplexity" -> { (s, d) =>
      graft.operators.TextCuration.heldoutPerplexity(
        Tables.documents(s, d).select("doc_id", "lang", "text"))
    },

    "q127_lm_quality" -> { (s, d) =>
      lmTiers(s, d).orderBy("doc_id")
    },

    // BIGRAM HELD-OUT PERPLEXITY (q210) — q146's eval moved up one
    // order: an add-1-smoothed BIGRAM model trained on the even
    // doc_ids, the odd half scored with integer-bit quantized surprisal
    // (the q127/q146 no-libm rule): bits = ⌊log₂((c(w₁)+V) div
    // (c(w₁w₂)+1))⌋ as length(bin(·))−1, pure integer arithmetic on
    // both engines. Branch honesty (the q146/q154 precedent): the
    // NOVEL-bigram smoothing branch fires on the fixture at sf0.001
    // (7 held-out bigrams with a seen context but unseen continuation)
    // and saturates away at sf0.1 (5000 same-vocabulary docs cover the
    // bigram space); ctx-OOV never fires on the fully-shared
    // vocabulary — BOTH branches are pinned deterministically by the
    // planted-corpus spec through the SHARED operator
    // ([[graft.operators.TextCuration.bigramPerplexity]], the q121
    // rule). Scale: bigram count tables are corpus-sized but only ever
    // equi-joined on their own keys (bg, w₁); V on a 1-row broadcast;
    // no windows, no self-joins.
    "q210_bigram_perplexity" -> { (s, d) =>
      graft.operators.TextCuration.bigramPerplexity(
        Tables.documents(s, d).select("doc_id", "lang", "text"))
    },

    // WEIGHTED SAMPLING WITHOUT REPLACEMENT (q206) — Efraimidis &
    // Spirakis's exponential-keys method, the third sampling face
    // beside q104's capped uniform priorities and q79's temperature
    // mixing: select k docs with probability proportional to a WEIGHT
    // (length here; quality in production) by ranking on
    // ln(u)/w with u a reproducible md5 fraction — a single top-k
    // TakeOrdered over map-side keys, no global sort, no rejection
    // loop, trivially distributed (each partition offers its local
    // top-k). Determinism: u = (hash56+1)/2^56 ∈ (0,1] (the +1 guard —
    // Spark's log(0) is NULL while DuckDB's ln(0) is -inf, the one
    // divergence this dag could hit), and the key is one division, one
    // ln, one division — but ln is NOT IEEE-correctly-rounded, and
    // Java's Math.log vs DuckDB's libm DID diverge by one ulp on a
    // fixture row, so the key is floor-QUANTIZED to integer nano-units
    // before anything orders or outputs it (the q149 rule: floor(x·10⁹)
    // on a ~unit-magnitude value makes an ulp wiggle irrelevant), with
    // doc_id breaking quantized ties.
    "q206_weighted_sample" -> { (s, d) =>
      val u = (TextOps.hash56(concat(lit("es:"), col("doc_id").cast("string")))
        + lit(1L)).cast("double") / lit(72057594037927936.0d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("w"),
          floor(log(u) / col("n_chars").cast("double") * lit(1.0e9d))
            .cast("long").as("es_key_q"))
        .orderBy(col("es_key_q").desc, col("doc_id"))
        .limit(64)
    },

    // QUALITY-SIGNAL AGREEMENT MATRIX (q202) — the meta-eval a curation
    // pipeline runs before trusting its filters: do the model-based
    // quality classifier (q98) and the unigram-LM tiering (q127) agree
    // on which documents are good? The cross-tab (tier × kept) with
    // exact-ppm shares is the number that decides whether the two
    // signals are redundant, complementary, or contradictory. Both
    // signals come from the SHARED implementations (lmTiers /
    // TextCuration.qualityScores — the q192/q198 no-drift rule), the
    // join is doc-keyed, and the report is ≤ 6 cells.
    "q202_signal_agreement" -> { (s, d) =>
      val tiers = lmTiers(s, d).select(col("doc_id"), col("tier"))
      val clf = graft.operators.TextCuration
        .qualityScores(Tables.documents(s, d))
        .select(col("doc_id"),
          when(col("score") > 0, 1L).otherwise(0L).as("kept"))
      val cells = tiers.join(clf, "doc_id")
        .groupBy("tier", "kept").agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum(col("n")).cast("long").as("n_docs"))
      cells.crossJoin(broadcast(tot))
        .select(col("tier"), col("kept"), col("n"),
          expr("n * 1000000 div n_docs").as("share_ppm"))
        .orderBy("tier", "kept")
    },

    // SCORE CALIBRATION / RELIABILITY CURVE (q217, r13) — q202 asks
    // whether the classifier and the LM tiering agree in aggregate;
    // this asks the finer eval question a filter threshold actually
    // needs: does a HIGHER classifier margin mean a HIGHER probability
    // of being a good document? Margin deciles (9 exact-percentile cuts
    // from one agg, broadcast — the q127 tier-cut shape), reference
    // label = LM tier != 'tail' (the shared lmTiers chain, the q202
    // no-drift rule), per-bin good-share in exact ppm. A calibrated
    // signal shows good_ppm rising with the bin id; the flat spots are
    // where a threshold buys nothing. Shapes: margin pass is q98's
    // partial-agg'd scorer; the bin assignment is a map-only broadcast
    // compare; the report is ≤ 10 rows. The margin is ONE IEEE division
    // of exact integers and the cuts are percentile ≡ quantile_cont
    // (the q46/q176 rule) — bin edges bit-equal across engines. On THIS
    // fixture the curve slopes the WRONG way (good_ppm falls 800k→520k
    // across bins): the hash classifier is mildly ANTI-correlated with
    // the LM tiers on synthetic soup — the honest readout (q202 already
    // shows the signals near-independent; q220 quantifies κ < 0), and
    // precisely what a calibration eval exists to catch before anyone
    // trusts a margin threshold.
    "q217_score_calibration" -> { (s, d) =>
      val scored = graft.Caches.scopedPersist(
        graft.operators.TextCuration
          .qualityScores(Tables.documents(s, d))
          .select(col("doc_id"),
            (col("score").cast("double") / col("n_tokens").cast("double"))
              .as("margin")))
      val cuts = scored.agg(expr(
        "percentile(margin, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("cuts"))
      val good = lmTiers(s, d).select(col("doc_id"),
        when(col("tier") =!= "tail", 1L).otherwise(0L).as("good"))
      scored.crossJoin(broadcast(cuts)).join(good, "doc_id")
        .select(
          size(filter(col("cuts"), c => col("margin") > c)).cast("long")
            .as("bin"),
          col("good"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("good")).as("n_good"))
        .select(col("bin"), col("n"), col("n_good"),
          expr("n_good * 1000000 div n").as("good_ppm"))
        .orderBy("bin")
    },

    // COHEN'S KAPPA (q220, r13) — q202's cross-tab says how OFTEN the
    // two quality signals agree; kappa says whether that agreement
    // beats CHANCE (two signals that both keep 95% of docs agree 90%+
    // of the time by luck alone — raw agreement flatters). Binarized:
    // A = classifier keep (score > 0), B = LM tier != 'tail'. One
    // doc-keyed join → four conditional counts in one 1-row agg, then
    // κ = (N·agree − ΣaᵢbᵢI) / (N² − Σaᵢbᵢ) from the marginals — exact
    // BIGINT products under Guards.checkedMul (headroom N ≲ 3e9; past
    // that escalate to DECIMAL(38,0), the q161 rule), the final κ ONE
    // IEEE division (raw double, never a rounded computed double — the
    // q149 rule; κ can be negative, and integer div-toward-zero vs
    // floor semantics diverge on negatives across engines, so the
    // double form is the cross-engine-safe one).
    "q220_cohens_kappa" -> { (s, d) =>
      import graft.functions.Guards.checkedMul
      val a = graft.operators.TextCuration
        .qualityScores(Tables.documents(s, d))
        .select(col("doc_id"),
          when(col("score") > 0, 1L).otherwise(0L).as("a"))
      val b = lmTiers(s, d).select(col("doc_id"),
        when(col("tier") =!= "tail", 1L).otherwise(0L).as("b"))
      a.join(b, "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n11"),
          sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n10"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n01"),
          sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L)).as("n00"))
        .withColumn("chance", checkedMul(
          col("n11") + col("n10"), col("n11") + col("n01"),
          "q220 kappa a1*b1") + checkedMul(
          col("n01") + col("n00"), col("n10") + col("n00"),
          "q220 kappa a0*b0"))
        .select(col("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
          expr("(n11 + n00) * 1000000 div n_docs").as("agree_ppm"),
          ((checkedMul(col("n_docs"), col("n11") + col("n00"),
            "q220 kappa N*agree") - col("chance")).cast("double") /
            (checkedMul(col("n_docs"), col("n_docs"), "q220 kappa N*N")
              - col("chance")).cast("double")).as("kappa"))
    },

    // CURRICULUM ORDERING PLAN (q221, r13) — the export face of
    // curriculum learning: each of the 8 loader shards reads its docs
    // easy→hard (LM tier head → middle → tail — the shared lmTiers
    // chain), ties broken by the q99 reproducible md5 shuffle key so
    // the within-phase order is a deterministic shuffle, never arrival
    // order. The position window is PER SHARD (partition count = loader
    // workers, thousands at 100 TB — each window sorts one shard's
    // slice, exactly the physical sort the shard write needs anyway,
    // the q99 argument); phase is a broadcast-free map-side CASE.
    "q221_curriculum_plan" -> { (s, d) =>
      val key = graft.operators.TextCuration.shuffleKey(col("doc_id"))
      val w = Window.partitionBy("shard")
        .orderBy(col("phase"), col("shuffle_key"), col("doc_id"))
      lmTiers(s, d)
        .select(col("doc_id"), col("tier"),
          when(col("tier") === "head", 0L)
            .when(col("tier") === "middle", 1L).otherwise(2L).as("phase"))
        .withColumn("shuffle_key", key)
        .withColumn("shard", col("shuffle_key") % curriculumShards)
        .withColumn("pos", row_number().over(w).cast("long"))
        .select("doc_id", "tier", "phase", "shard", "pos")
        .orderBy("shard", "pos")
    },

    // Per-domain document cap — the RefinedWeb/C4 anti-spam pass: no
    // single domain may contribute more than DomainCap docs, selection
    // within a domain by a reproducible md5 priority (not arrival order,
    // which at web scale is crawl-frontier order = itself domain-biased).
    // The cap-k selection runs through the bounded MinKLong aggregator,
    // NOT a row_number window: each map task ships at most cap pairs per
    // domain to the shuffle, so a 100M-page domain costs the same
    // shuffle as a 100-page one — and the 56-bit priorities compare as
    // exact integers (TopK's double score loses bits above 2^53). The
    // report keeps every doc with its kept bit, like q74/q77.
    "q103_domain_cap" -> { (s, d) =>
      val mink = udaf(new graft.expressions.MinKLong(DomainCap))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.hash56(concat(lit("cap:"), col("doc_id").cast("string")))
            .as("pri"))
      val kept = docs.groupBy("source")
        .agg(mink(col("pri"), col("doc_id")).as("keep"))
        .select(explode(col("keep")).as("e"))
        .select(col("e._2").as("doc_id"), lit(1L).as("kept"))
      docs.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("pri"),
          coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy("doc_id")
    },

    // Weighted PRIORITY SAMPLING (Duffield–Lund–Thorup): each doc draws
    // priority w/u — w = n_chars, u a uniform from the doc's md5 — and
    // the global sample is the k largest priorities; est_weight =
    // max(w, τ) with τ the (k+1)-th priority makes any subset-sum over
    // the sample an unbiased estimate of the corpus sum. Chosen over
    // Efraimidis–Spirakis (u^(1/w)) deliberately: pow/log are the one
    // class of float op the two engines may round differently, while
    // this needs only int→double conversion (IEEE round-to-nearest in
    // both), one division by 2^56 (exact — power of two), and one w/u
    // division. Physical shape: orderBy+limit = TakeOrderedAndProject,
    // a bounded per-partition heap — k+1 rows per task reach the driver,
    // never a global sort. The rank window after the limit orders k+1
    // rows, bounded by k, not the corpus.
    // TOKEN-BUDGET MIXTURE ALLOCATION (q162) — the planning face of
    // corpus mixing (q79 is the per-doc sampling face that EXECUTES
    // such rates): given a token budget B = N div 2 and per-(source,
    // lang) availability n, allocate B by sqrt-weight (the standard
    // α=0.5 rebalancing toward small strata), cap at availability, and
    // redistribute the remainder among uncapped strata in ONE
    // waterfilling round. Arithmetic discipline: weights are
    // floor(√n·1e6) BIGINTs so every Σ is exact integer (a double Σ
    // would be shuffle-order-dependent); each share is ONE IEEE
    // multiply+divide on exact operands floored back to BIGINT tokens
    // (√ is correctly rounded, the q47 rule). Work shape: one
    // partial-agg'd scan to the strata table (driver-sized), two 1-row
    // broadcast crossJoins — nothing keyed by corpus size. The cap
    // branch fires at the gate SFs (7 strata at sf0.001, 6 at sf0.01)
    // and is honestly idle on sf0.1's near-uniform strata (the q144
    // inverted-vacuity precedent); Σalloc1 ≤ Σideal ≤ B keeps the
    // leftover non-negative by construction.
    "q162_mixture_allocation" -> { (s, d) =>
      val per = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source", "lang").agg(sum(col("nt")).as("n_tokens"))
      val wq = per.withColumn("w",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0d)).cast("long"))
      val tot = wq.agg(sum(col("w")).as("sw"), sum(col("n_tokens")).as("n_total"))
      val a1 = wq.crossJoin(broadcast(tot))
        .withColumn("budget", expr("n_total div 2"))
        .withColumn("ideal",
          floor(col("budget").cast("double") * col("w").cast("double")
            / col("sw").cast("double")).cast("long"))
        .withColumn("alloc1", least(col("n_tokens"), col("ideal")))
      val t2 = a1.agg(sum(col("alloc1")).as("sa"),
        sum(when(col("ideal") < col("n_tokens"), col("w")).otherwise(0L)).as("sw2"))
      a1.crossJoin(broadcast(t2))
        .withColumn("alloc_final",
          when(col("ideal") < col("n_tokens") && col("sw2") > 0L,
            least(col("n_tokens"), col("alloc1") +
              floor((col("budget") - col("sa")).cast("double")
                * col("w").cast("double") / col("sw2").cast("double")).cast("long")))
            .otherwise(col("alloc1")))
        .select(col("source"), col("lang"), col("n_tokens"),
          col("w").as("weight_q"), col("alloc1"), col("alloc_final"),
          when(col("alloc_final") === col("n_tokens"), 1L).otherwise(0L).as("capped"))
        .orderBy("source", "lang")
    },

    "q104_priority_sample" -> { (s, d) =>
      val k = PrioritySampleK
      val u = (TextOps.hash56(concat(lit("ps:"), col("doc_id").cast("string")))
        .cast("double") + 1.0d) / lit(72057594037927936.0d)
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars").cast("double") / u).as("pri"))
      val top = scored.orderBy(col("pri").desc, col("doc_id")).limit(k + 1)
        .withColumn("rk",
          row_number().over(Window.orderBy(col("pri").desc, col("doc_id"))))
      val tau = top.agg(
        max(when(col("rk") === k + 1, col("pri"))).as("tau"))
      top.filter(col("rk") <= k)
        .crossJoin(broadcast(tau))
        .select(col("doc_id"), col("n_chars"), col("pri"),
          greatest(col("n_chars").cast("double"),
            coalesce(col("tau"), lit(0.0d))).as("est_weight"))
        .orderBy("doc_id")
    },

    // REPETITION-RULES QUALITY GATE (q253, r17) — the Gopher/MassiveText
    // repetition family beside q27's ratio heuristics and q98's
    // classifier: WITHIN-document repetition is its own failure mode
    // (boilerplate loops, generation artifacts, scraped nav bars) that
    // cross-doc dedup never sees. Three diagnostics per doc, all exact
    // integers (ppm — the q229 stance: no float whose rounding could
    // differ across engines):
    //   dup_line_ppm / dup_line_char_ppm — duplicate-"line" fraction by
    //     count and by characters, at the q226 4-token chunk grain (the
    //     corpus is newline-free; LineChunkTokens plays the line);
    //   top_bigram_ppm — tokens covered by the single most frequent
    //     bigram (tie-broken by count DESC then bigram ASC, pinned in
    //     both engines);
    //   max_run — longest same-token run (lag→change-flag→prefix-sum
    //     run-length encoding, two doc-keyed windows).
    // Verdict thresholds are fixture-calibrated (the LineChunkTokens
    // rule) so BOTH branches fire at every gate SF — measured keeps/
    // drops 473/27 (sf0.001), 470/30 (sf0.01), 4735/265 (sf0.1).
    // 100 TB shape: one explode + two windows + three aggs, ALL keyed
    // by doc_id — per-doc work, partial-aggregated, no cross-doc join
    // anywhere; the widest shuffle row is one (doc, bigram) count.
    "q253_repetition_rules" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val tk = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      val n = tk.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      // within-doc duplicate chunks at the q226 grain
      val cc = lineChunks(docs)
        .withColumn("l", length(col("chunk")).cast("long"))
        .groupBy("doc_id", "chunk", "l").agg(count(lit(1)).as("c"))
      val dl = cc.groupBy("doc_id").agg(
        expr("(sum(c) - count(1)) * 1000000 div sum(c)").as("dup_line_ppm"),
        expr("(sum(c * l) - sum(l)) * 1000000 div sum(c * l)")
          .as("dup_line_char_ppm"))
      // most frequent bigram; the sequence() guard keeps Spark off its
      // DESCENDING sequence(1,0) corner for 1-token docs (DuckDB's
      // generate_series is empty there — the left join below aligns)
      val bgc = tk.filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(tk) - 1)," +
            " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
          .as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      val top = bgc.withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("c").desc, col("bg").asc)))
        .filter(col("rn") === 1).select(col("doc_id"), col("bg"), col("c"))
      // longest same-token run: change flags -> prefix-sum group ids
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val toks = tk.select(col("doc_id"), posexplode(col("tk")))
        .withColumnRenamed("col", "tok")
      val mr = toks
        .withColumn("chg",
          when(col("tok") === lag("tok", 1).over(w), 0L).otherwise(1L))
        .withColumn("grp", sum(col("chg")).over(w))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("rl"))
        .groupBy("doc_id").agg(max(col("rl")).as("max_run"))
      n.join(dl, "doc_id").join(mr, "doc_id").join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          col("dup_line_ppm"), col("dup_line_char_ppm"),
          coalesce(col("bg"), lit("")).as("top_bigram"),
          coalesce(expr("c * 2 * 1000000 div n_tokens"), lit(0L))
            .as("top_bigram_ppm"),
          col("max_run"))
        .withColumn("keep",
          col("top_bigram_ppm") <= RepTopBigramMaxPpm &&
            col("max_run") <= RepMaxRun &&
            col("dup_line_ppm") <= RepDupLineMaxPpm)
        .orderBy("doc_id")
    },

    // OVERLAPPING CHUNK EXPORT (q254, r17) — the RAG/retrieval-ingest
    // face of the export family: where q248 tiles tokens disjointly for
    // pretraining, a retrieval index wants OVERLAPPING windows so no
    // answer span straddles a chunk boundary unseen. Pure closed-form
    // geometry (the q248 rule — no fold): chunk i of a doc with n
    // tokens covers [i·S, min(i·S + C, n)) for i = 0..ceil(max(n−C,0)/S),
    // so S < C guarantees full coverage and the per-doc audit columns
    // make it checkable — overlap_tokens = Σ chunk lengths − n (every
    // token counted once per extra chunk covering it). Gate geometry
    // C=32/S=24 exercises 1–4 chunks/doc on the fixture (max doc 100
    // tokens); a production export's 512/384 changes two constants.
    // 100 TB shape: one projection + one bounded explode (output-sized),
    // two windowless integer expressions, one doc-keyed window for the
    // audit — no shuffle beyond the window's doc_id key.
    "q254_overlap_chunks" -> { (s, d) =>
      val C = RagChunkTokens
      val S = RagChunkStride
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n"))
        .withColumn("n_chunks",
          expr(s"(greatest(n - $C, 0) + $S - 1) div $S + 1"))
        .select(col("doc_id"), col("n"), col("n_chunks"),
          explode(expr("sequence(0L, n_chunks - 1)")).as("ci"))
        .select(col("doc_id"), col("ci").as("chunk_id"),
          (col("ci") * S).as("tok_start"),
          least(col("ci") * S + C, col("n")).as("tok_end"),
          col("n").as("n_doc_tokens"), col("n_chunks"))
        .withColumn("n_chunk_tokens", col("tok_end") - col("tok_start"))
        .withColumn("overlap_tokens",
          sum(col("n_chunk_tokens")).over(Window.partitionBy("doc_id"))
            - col("n_doc_tokens"))
        .orderBy("doc_id", "chunk_id")
    }
  )

  /** PII patterns — single definition in
    * [[graft.operators.TextCuration]] (shared with the streaming
    * pipeline); aliased here for the oracle-SQL interpolation. */
  private val PiiEmail = graft.operators.TextCuration.PiiEmail
  private val PiiIpv4 = graft.operators.TextCuration.PiiIpv4

  /** q127/q202's shared tier CTEs — the oracle mirror of [[lmTiers]]. */
  private val LmTierCtes =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tok),
      |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |    CAST(sum(length(bin(t // c)) - 1) AS BIGINT) AS sum_bits
      |  FROM tok JOIN cnt USING (tok), tot GROUP BY doc_id),
      |pda AS (SELECT doc_id, n_tok, sum_bits,
      |    CAST(sum_bits AS DOUBLE) / CAST(n_tok AS DOUBLE) AS avg_bits FROM pd),
      |cut AS (SELECT quantile_cont(avg_bits, 0.3333333333333333) AS t1,
      |    quantile_cont(avg_bits, 0.6666666666666666) AS t2 FROM pda),
      |tiers AS (SELECT doc_id, n_tok, sum_bits, avg_bits,
      |    CASE WHEN avg_bits <= t1 THEN 'head'
      |         WHEN avg_bits <= t2 THEN 'middle' ELSE 'tail' END AS tier
      |  FROM pda, cut)""".stripMargin

  /** q98/q202's shared hashed-BoW classifier CTEs — the oracle mirror of
    * [[graft.operators.TextCuration.qualityScores]]. */
  private val ClassifierCtes =
    """t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |w AS (SELECT doc_id,
      |    (CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) % 1024)
      |      * 2654435761 % 1997 - 998 AS w
      |  FROM t)""".stripMargin
  private val PiiPhone = graft.operators.TextCuration.PiiPhone

  val oracles: Map[String, String] = Map(
    // q253: the identical integer-ppm arithmetic — chunk grain shared
    // with the q226 oracle text's derivation, bigrams by 1-based list
    // indexing (element_at ≡ t[i]), run lengths by the same lag→flag→
    // prefix-sum windows; the top-bigram tie-break (c DESC, bg ASC) is
    // pinned on both sides.
    "q253_repetition_rules" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tk),
         |ch AS (SELECT doc_id, array_to_string(t[ci*4+1:ci*4+4], ' ') AS chunk FROM
         |       (SELECT doc_id, t, unnest(generate_series(0, (len(t)-1)//4)) AS ci FROM tk)),
         |cc AS (SELECT doc_id, chunk, length(chunk) AS l, count(*) AS c
         |       FROM ch GROUP BY 1, 2, 3),
         |dl AS (SELECT doc_id,
         |         (sum(c) - count(*)) * 1000000 // sum(c) AS dup_line_ppm,
         |         (sum(c*l) - sum(l)) * 1000000 // sum(c*l) AS dup_line_char_ppm
         |       FROM cc GROUP BY 1),
         |bgl AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |          i -> t[i] || ' ' || t[i+1])) AS bg FROM tk),
         |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgl GROUP BY 1, 2),
         |top AS (SELECT doc_id, bg, c FROM (SELECT doc_id, bg, c, row_number()
         |          OVER (PARTITION BY doc_id ORDER BY c DESC, bg ASC) AS rn FROM bgc)
         |        WHERE rn = 1),
         |tok AS (SELECT doc_id, i AS pos, t[i] AS tok FROM
         |        (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tk)),
         |runs AS (SELECT doc_id, grp, count(*) AS rl FROM (
         |    SELECT doc_id, sum(chg) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |    FROM (SELECT doc_id, pos, CASE WHEN tok = lag(tok)
         |            OVER (PARTITION BY doc_id ORDER BY pos) THEN 0 ELSE 1 END AS chg
         |          FROM tok)) GROUP BY 1, 2),
         |mr AS (SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run FROM runs GROUP BY 1)
         |SELECT n.doc_id, n.n_tokens,
         |  CAST(dl.dup_line_ppm AS BIGINT) AS dup_line_ppm,
         |  CAST(dl.dup_line_char_ppm AS BIGINT) AS dup_line_char_ppm,
         |  coalesce(top.bg, '') AS top_bigram,
         |  CAST(coalesce(top.c * 2 * 1000000 // n.n_tokens, 0) AS BIGINT) AS top_bigram_ppm,
         |  mr.max_run,
         |  (coalesce(top.c * 2 * 1000000 // n.n_tokens, 0) <= $RepTopBigramMaxPpm
         |    AND mr.max_run <= $RepMaxRun
         |    AND dl.dup_line_ppm <= $RepDupLineMaxPpm) AS keep
         |FROM n JOIN dl USING (doc_id) JOIN mr USING (doc_id)
         |  LEFT JOIN top USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // q254: the closed form replayed verbatim — integer ceil-div chunk
    // count, per-chunk geometry by min(), audit by one doc-keyed window.
    "q254_overlap_chunks" ->
      s"""WITH tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
         |c AS (SELECT doc_id, n,
         |        (greatest(n - $RagChunkTokens, 0) + $RagChunkStride - 1)
         |          // $RagChunkStride + 1 AS n_chunks FROM tk),
         |e AS (SELECT doc_id, n, n_chunks,
         |        unnest(generate_series(0, n_chunks - 1)) AS ci FROM c)
         |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
         |  CAST(ci * $RagChunkStride AS BIGINT) AS tok_start,
         |  CAST(least(ci * $RagChunkStride + $RagChunkTokens, n) AS BIGINT) AS tok_end,
         |  CAST(n AS BIGINT) AS n_doc_tokens,
         |  CAST(n_chunks AS BIGINT) AS n_chunks,
         |  CAST(least(ci * $RagChunkStride + $RagChunkTokens, n)
         |    - ci * $RagChunkStride AS BIGINT) AS n_chunk_tokens,
         |  CAST(sum(least(ci * $RagChunkStride + $RagChunkTokens, n)
         |      - ci * $RagChunkStride) OVER (PARTITION BY doc_id)
         |    - n AS BIGINT) AS overlap_tokens
         |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    "q75_duplicated_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sp AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2),
        |         i -> CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 14)) AS BIGINT)) AS sp
        |       FROM toks WHERE len(tk) >= 3),
        |pos AS (SELECT doc_id, unnest(sp) AS h FROM sp),
        |dh AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
        |         FROM pos GROUP BY h) WHERE nd >= 2),
        |dp AS (SELECT doc_id, count(*) AS nd FROM pos JOIN dh USING (h)
        |       GROUP BY doc_id),
        |base AS (SELECT doc_id, len(sp) AS n_pos FROM sp)
        |SELECT b.doc_id, CAST(b.n_pos AS BIGINT) AS n_pos,
        |  CAST(coalesce(dp.nd, 0) AS BIGINT) AS n_dup_pos,
        |  CAST(coalesce(dp.nd, 0) AS DOUBLE) / b.n_pos AS dup_fraction
        |FROM base b LEFT JOIN dp ON b.doc_id = dp.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q76_quantized_similarity" ->
      """WITH st AS (SELECT g.i AS dim,
        |    min(CAST(embedding[g.i + 1] AS DOUBLE)) AS mn,
        |    max(CAST(embedding[g.i + 1] AS DOUBLE)) AS mx
        |  FROM embeddings, (SELECT unnest(range(64)) AS i) g GROUP BY g.i),
        |arr AS (SELECT list(mn ORDER BY dim) AS mn, list(mx ORDER BY dim) AS mx FROM st),
        |qt AS (SELECT vec_id, list_transform(generate_series(0, 63), i ->
        |    CASE WHEN a.mx[i + 1] = a.mn[i + 1] THEN 0
        |    ELSE CAST(floor((CAST(e.embedding[i + 1] AS DOUBLE) - a.mn[i + 1])
        |      * (254.0 / (a.mx[i + 1] - a.mn[i + 1])) + 0.5) AS BIGINT) - 127 END) AS q
        |  FROM embeddings e, arr a),
        |q0 AS (SELECT q AS qq FROM qt WHERE vec_id = 0)
        |SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, 64),
        |    i -> qt.q[i] * q0.qq[i])) AS BIGINT) AS score
        |FROM qt, q0 WHERE vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "q77_semantic_dedup" ->
      s"""${PipelineQueries.IvfCte},
         |best AS (SELECT b.vec_id,
         |    max(round(list_dot_product(a.nv, b.nv) / (a.nn * b.nn), 4)) AS best_prior_cos
         |  FROM asg b JOIN asg a ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  GROUP BY b.vec_id)
         |SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell, t.best_prior_cos,
         |  CASE WHEN t.best_prior_cos IS NULL OR t.best_prior_cos < $SemThreshold
         |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS kept
         |FROM asg s LEFT JOIN best t ON s.vec_id = t.vec_id
         |ORDER BY s.vec_id""".stripMargin,
    "q78_greedy_packing" ->
      s"""WITH RECURSIVE d AS MATERIALIZED (SELECT doc_id, lang, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, lang, n_chars, rn, 0 AS bin_id, n_chars AS fill
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.lang, d.n_chars, d.rn,
         |    CASE WHEN p.fill + d.n_chars > $PackCapacity THEN p.bin_id + 1 ELSE p.bin_id END,
         |    CASE WHEN p.fill + d.n_chars > $PackCapacity THEN d.n_chars ELSE p.fill + d.n_chars END
         |  FROM p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
         |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(bin_id AS BIGINT) AS bin_id
         |FROM p ORDER BY lang, doc_id""".stripMargin,
    "q79_temperature_mixing" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |m AS (SELECT min(cnt) AS mincnt FROM c),
        |r AS (SELECT lang, sqrt(CAST(mincnt AS DOUBLE) / CAST(cnt AS DOUBLE)) AS rate FROM c, m)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 14)) AS BIGINT) AS DOUBLE)
        |    / 72057594037927936.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    // Band buckets depend only on a doc's OWN shingles, so building the
    // shared all-docs `bands` CTE and splitting by the batch predicate is
    // identical to indexing corpus and batch separately.
    "q93_incremental_neardup" ->
      s"""${PipelineQueries.MinhashCandidatesSql},
         |nb AS (SELECT doc_id, band, bucket FROM bands WHERE doc_id % 10 = 5),
         |cb AS (SELECT doc_id, band, bucket FROM bands WHERE doc_id % 10 <> 5),
         |cand AS (SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
         |  FROM nb JOIN cb USING (band, bucket)),
         |ver AS (SELECT c.new_id, c.corpus_id,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
         |  FROM cand c JOIN sh sa ON c.new_id = sa.doc_id
         |  JOIN sh sb ON c.corpus_id = sb.doc_id),
         |m AS (SELECT new_id, count(*) AS n_dups, min(corpus_id) AS dup_of,
         |    max(j) AS best_jaccard
         |  FROM ver WHERE j >= 0.5 GROUP BY new_id)
         |SELECT d.doc_id, CAST(coalesce(m.n_dups, 0) AS BIGINT) AS n_dups,
         |  m.dup_of, m.best_jaccard,
         |  CAST(CASE WHEN m.new_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM documents d LEFT JOIN m ON d.doc_id = m.new_id
         |WHERE d.doc_id % 10 = 5
         |ORDER BY d.doc_id""".stripMargin,
    // q209: the three rounds unrolled — the shared band/shingle CTEs
    // (bands depend only on a doc's own shingles, the q93 argument),
    // the q98 classifier chain for the quality gate, then round b's
    // candidates as batch-b bands probing the union of earlier rounds'
    // survivors with the Jaccard-0.5 verify behind. Batch 0 probes an
    // EMPTY index: everything quality-passed is kept by construction.
    "q209_curation_replay" ->
      s"""${PipelineQueries.MinhashCandidatesSql},
         |$ClassifierCtes,
         |q AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score FROM w GROUP BY doc_id),
         |p AS (SELECT d.doc_id, d.doc_id % 3 AS b
         |      FROM documents d JOIN q USING (doc_id)
         |      WHERE q.score > (SELECT floor(quantile_cont(score, 0.5)) FROM q)),
         |k0 AS (SELECT doc_id FROM p WHERE b = 0),
         |c1 AS (SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
         |       FROM bands nb JOIN bands cb
         |         ON nb.band = cb.band AND nb.bucket = cb.bucket
         |       WHERE nb.doc_id IN (SELECT doc_id FROM p WHERE b = 1)
         |         AND cb.doc_id IN (SELECT doc_id FROM k0)),
         |d1 AS (SELECT DISTINCT c.new_id
         |       FROM c1 c JOIN sh sa ON c.new_id = sa.doc_id
         |                 JOIN sh sb ON c.corpus_id = sb.doc_id
         |       WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5),
         |k1 AS (SELECT doc_id FROM p WHERE b = 1
         |         AND doc_id NOT IN (SELECT new_id FROM d1)),
         |c2 AS (SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
         |       FROM bands nb JOIN bands cb
         |         ON nb.band = cb.band AND nb.bucket = cb.bucket
         |       WHERE nb.doc_id IN (SELECT doc_id FROM p WHERE b = 2)
         |         AND cb.doc_id IN (SELECT doc_id FROM k0
         |                           UNION ALL SELECT doc_id FROM k1)),
         |d2 AS (SELECT DISTINCT c.new_id
         |       FROM c2 c JOIN sh sa ON c.new_id = sa.doc_id
         |                 JOIN sh sb ON c.corpus_id = sb.doc_id
         |       WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |          / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5),
         |drops AS (SELECT 1 AS b, CAST(count(*) AS BIGINT) AS nd FROM d1
         |          UNION ALL SELECT 2 AS b, CAST(count(*) AS BIGINT) AS nd FROM d2),
         |base AS (SELECT doc_id % 3 AS b, CAST(count(*) AS BIGINT) AS n_input
         |         FROM documents GROUP BY 1),
         |passed AS (SELECT b, CAST(count(*) AS BIGINT) AS n_pass FROM p GROUP BY 1)
         |SELECT CAST(base.b AS BIGINT) AS batch, base.n_input,
         |  CAST(base.n_input - coalesce(passed.n_pass, 0) AS BIGINT) AS n_quality_dropped,
         |  CAST(coalesce(drops.nd, 0) AS BIGINT) AS n_dup_dropped,
         |  CAST(coalesce(passed.n_pass, 0) - coalesce(drops.nd, 0) AS BIGINT) AS n_exported
         |FROM base LEFT JOIN passed USING (b) LEFT JOIN drops USING (b)
         |ORDER BY batch""".stripMargin,
    // Positions here are 1-based (DuckDB lists) vs Spark's 0-based —
    // immaterial: islands, lengths and excised token sets are invariant
    // under the shift. The zipped double-unnest pairs each position with
    // its hash.
    "q94_span_removal" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |spt AS (SELECT doc_id, list_transform(generate_series(1, len(tk) - 2),
         |         i -> CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 14)) AS BIGINT)) AS sp
         |       FROM toks WHERE len(tk) >= 3),
         |pos AS (SELECT doc_id, unnest(generate_series(1, len(sp))) AS p,
         |         unnest(sp) AS h FROM spt),
         |dh AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
         |         FROM pos GROUP BY h) WHERE nd >= 2),
         |cov AS (SELECT DISTINCT doc_id, idx FROM (
         |  SELECT doc_id, unnest(generate_series(p, p + 2)) AS idx
         |  FROM pos JOIN dh USING (h))),
         |isl AS (SELECT doc_id, grp, min(idx) AS lo, max(idx) AS hi, count(*) AS len
         |  FROM (SELECT doc_id, idx,
         |      idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
         |    FROM cov)
         |  GROUP BY doc_id, grp),
         |rem AS (SELECT DISTINCT doc_id, unnest(generate_series(lo, hi)) AS idx
         |  FROM isl WHERE len >= $SpanRemovalMinTokens),
         |tok AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS idx,
         |         unnest(tk) AS tok FROM toks),
         |keep AS (SELECT t.doc_id, t.idx, t.tok FROM tok t
         |  LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.idx = r.idx
         |  WHERE r.doc_id IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(tok, ' ' ORDER BY idx) AS clean_text
         |  FROM keep GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q95_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.org at 10.' || CAST(doc_id % 256 AS VARCHAR)
         |    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
         |    || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
         |    || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |    || '-' || lpad(CAST((doc_id * 17) % 10000 AS VARCHAR), 4, '0') AS pii
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii, '$PiiEmail')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(pii, '$PiiIpv4')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(pii, '$PiiPhone')) AS BIGINT) AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(pii,
         |    '$PiiEmail', '<EMAIL>', 'g'),
         |    '$PiiIpv4', '<IP>', 'g'),
         |    '$PiiPhone', '<PHONE>', 'g') AS clean_text
         |FROM p ORDER BY doc_id""".stripMargin,
    // q226: identical chunking (consecutive 4-token windows, 0-based
    // chunk index), the same 56-bit md5 key, the same >= 3-distinct-docs
    // drop rule, and an ORDER BY ci string_agg reassembly
    "q226_line_dedup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |ch AS (SELECT doc_id, CAST(u.i AS BIGINT) AS ci,
         |    array_to_string(list_slice(tk,
         |      CAST(u.i * $LineChunkTokens + 1 AS BIGINT),
         |      CAST(u.i * $LineChunkTokens + $LineChunkTokens AS BIGINT)), ' ') AS chunk
         |  FROM t, unnest(range(0, (len(tk) - 1) // $LineChunkTokens + 1)) u(i)),
         |hh AS (SELECT doc_id, ci, chunk,
         |    CAST(('0x' || substr(md5(chunk), 1, 14)) AS BIGINT) AS h FROM ch),
         |boiler AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM hh)
         |  GROUP BY h HAVING count(*) >= $LineDupMinDocs),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(chunk, ' ' ORDER BY ci) AS clean_text
         |  FROM hh WHERE h NOT IN (SELECT h FROM boiler) GROUP BY doc_id),
         |base AS (SELECT doc_id, count(*) AS n_chunks FROM hh GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.n_chunks AS BIGINT) AS n_chunks,
         |  CAST(b.n_chunks - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM base b LEFT JOIN kept k USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    // q227: the same three planted spellings (chr() so the SQL text
    // carries no raw unicode), DuckDB's UAX #15 nfc_normalize + lower
    // against Spark's graft_nfc + lower — the norm_text column is the
    // cross-engine byte-equality proof
    "q227_unicode_normalize" ->
      """WITH v AS (SELECT doc_id, unnest([
        |    'Caf' || chr(233) || ' menu: ' || text,
        |    'Cafe' || chr(769) || ' menu: ' || text,
        |    'CAF' || chr(201) || ' MENU: ' || text]) AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw, lower(nfc_normalize(raw)) AS norm FROM v)
        |SELECT doc_id, CAST(count(DISTINCT raw) AS BIGINT) AS n_raw_forms,
        |  CAST(count(DISTINCT norm) AS BIGINT) AS n_norm_forms,
        |  CAST(count(DISTINCT raw) - count(DISTINCT norm) AS BIGINT) AS n_collapsed,
        |  min(norm) AS norm_text
        |FROM n GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same hashed-bucket weight formula, token-for-token; the margin is
    // one IEEE division of identical integers in both engines
    "q98_quality_classifier" ->
      s"""WITH $ClassifierCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(w) AS BIGINT) AS score,
         |  CAST(sum(w) AS DOUBLE) / count(*) AS margin,
         |  CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q206: the same md5 fraction (+1 guard), the same
    // nano-unit-quantized exponential key, the same top-64
    "q206_weighted_sample" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |  CAST(floor(ln(CAST(CAST(('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 14))
        |        AS BIGINT) + 1 AS DOUBLE) / 72057594037927936.0)
        |    / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS es_key_q
        |FROM documents
        |ORDER BY es_key_q DESC, doc_id LIMIT 64""".stripMargin,
    // q202: both SHARED signal chains, then the doc-keyed cross-tab
    "q202_signal_agreement" ->
      s"""WITH $LmTierCtes,
         |$ClassifierCtes,
         |clf AS (SELECT doc_id,
         |    CAST(CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
         |  FROM w GROUP BY doc_id),
         |cells AS (SELECT tier, kept, CAST(count(*) AS BIGINT) AS n
         |  FROM tiers JOIN clf USING (doc_id) GROUP BY tier, kept),
         |nd AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs FROM cells)
         |SELECT tier, kept, n,
         |  CAST(n * 1000000 // n_docs AS BIGINT) AS share_ppm
         |FROM cells, nd ORDER BY tier, kept""".stripMargin,
    // q217: both shared chains again; cuts via quantile_cont (≡ Spark
    // percentile), bin = cuts strictly below the margin
    "q217_score_calibration" ->
      s"""WITH $LmTierCtes,
         |$ClassifierCtes,
         |sm AS (SELECT doc_id,
         |    CAST(sum(w) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS margin
         |  FROM w GROUP BY doc_id),
         |cu AS (SELECT quantile_cont(margin,
         |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts FROM sm),
         |b AS (SELECT s.doc_id,
         |    CAST(len(list_filter(cu.cuts, c -> s.margin > c)) AS BIGINT) AS bin
         |  FROM sm s, cu),
         |g AS (SELECT doc_id,
         |    CASE WHEN tier <> 'tail' THEN 1 ELSE 0 END AS good FROM tiers)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(good) AS BIGINT) AS n_good,
         |  CAST(CAST(sum(good) AS BIGINT) * 1000000 // count(*) AS BIGINT) AS good_ppm
         |FROM b JOIN g USING (doc_id) GROUP BY bin ORDER BY bin""".stripMargin,
    // q220: the identical integer marginal products, κ as the one
    // double division over them
    "q220_cohens_kappa" ->
      s"""WITH $LmTierCtes,
         |$ClassifierCtes,
         |ab AS (SELECT t2.doc_id,
         |    CASE WHEN c.score > 0 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN t2.tier <> 'tail' THEN 1 ELSE 0 END AS b
         |  FROM tiers t2 JOIN (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score
         |    FROM w GROUP BY doc_id) c USING (doc_id)),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(*) FILTER (a = 1 AND b = 1) AS BIGINT) AS n11,
         |    CAST(count(*) FILTER (a = 1 AND b = 0) AS BIGINT) AS n10,
         |    CAST(count(*) FILTER (a = 0 AND b = 1) AS BIGINT) AS n01,
         |    CAST(count(*) FILTER (a = 0 AND b = 0) AS BIGINT) AS n00
         |  FROM ab)
         |SELECT n_docs, n11, n10, n01, n00,
         |  CAST((n11 + n00) * 1000000 // n_docs AS BIGINT) AS agree_ppm,
         |  CAST(n_docs * (n11 + n00)
         |      - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
         |    / CAST(n_docs * n_docs
         |      - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
         |    AS kappa
         |FROM m""".stripMargin,
    // q221: the shared tier chain + the q99 md5 key, rank per shard
    "q221_curriculum_plan" ->
      s"""WITH $LmTierCtes,
         |k AS (SELECT doc_id, tier,
         |    CAST(CASE WHEN tier = 'head' THEN 0
         |         WHEN tier = 'middle' THEN 1 ELSE 2 END AS BIGINT) AS phase,
         |    CAST(('0x' || substr(md5('shard_' || CAST(doc_id AS VARCHAR)), 1, 14))
         |      AS BIGINT) AS shuffle_key
         |  FROM tiers)
         |SELECT doc_id, tier, phase, shuffle_key % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY shuffle_key % 8
         |    ORDER BY phase, shuffle_key, doc_id) AS BIGINT) AS pos
         |FROM k ORDER BY shard, pos""".stripMargin,
    "q99_shard_export" ->
      """WITH k AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5('shard_' || CAST(doc_id AS VARCHAR)), 1, 14))
        |      AS BIGINT) AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key % 8 AS shard, shuffle_key,
        |  CAST(row_number() OVER (PARTITION BY shuffle_key % 8
        |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,
    // q245: the identical greedy walk as a recursive CTE over q99's rn
    // order — one walk row per (shard, rn), depth = docs/shard, shards
    // advance in parallel (the q37/q78 pattern); fill/waste windows on top
    "q245_sequence_packing" -> SequencePackingSql,
    // q247: the streamed fold's report ≡ the batch walk's (state carried
    // across the batch seam is the whole claim) — ONE oracle text, two
    // faces (the q241/q243 promotion rule)
    "q247_packing_stream" -> SequencePackingSql,
    // q248: the same prefix-sum offsets and context range, closed-form —
    // unnest(range) plays Spark's sequence-explode; fragment geometry is
    // identical min/max arithmetic
    "q248_packing_split" -> SplitPackingSql,
    // q251: the streamed fold's fragments ≡ the batch window's (the
    // offset carried across the batch seam is the whole claim) — ONE
    // oracle text, two faces (the q245/q247 rule applied to split)
    "q251_split_stream" -> SplitPackingSql,
    // q252: all five stages replayed in one text — the shared band/
    // shingle CTEs (promoted to WITH RECURSIVE for the walk), the q98
    // classifier chain at the q209 median gate, verified pairs among
    // survivors (keep-first), the q95 planted-PII scrub on exports, and
    // the q245 recursive walk over the export order — aggregated to the
    // per-shard funnel
    "q252_training_export" ->
      s"""${"WITH RECURSIVE " + PipelineQueries.MinhashCandidatesSql.stripPrefix("WITH ")},
         |$ClassifierCtes,
         |q AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS score FROM w GROUP BY doc_id),
         |surv AS (SELECT doc_id FROM q
         |  WHERE score > (SELECT floor(quantile_cont(score, 0.5)) FROM q)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b USING (band, bucket) WHERE a.doc_id < b.doc_id),
         |vp AS (SELECT c.doc_a, c.doc_b FROM cand c
         |  JOIN sh sa ON c.doc_a = sa.doc_id JOIN sh sb ON c.doc_b = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5),
         |dup AS (SELECT DISTINCT v.doc_b AS doc_id FROM vp v
         |  WHERE v.doc_a IN (SELECT doc_id FROM surv)
         |    AND v.doc_b IN (SELECT doc_id FROM surv)),
         |exp0 AS (SELECT doc_id FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
         |p AS (SELECT d.doc_id, d.text || ' contact user' || CAST(d.doc_id AS VARCHAR)
         |    || '@mail.example.org at 10.' || CAST(d.doc_id % 256 AS VARCHAR)
         |    || '.' || CAST((d.doc_id * 7) % 256 AS VARCHAR)
         |    || '.' || CAST((d.doc_id * 13) % 256 AS VARCHAR)
         |    || ' call 555-' || lpad(CAST(d.doc_id % 1000 AS VARCHAR), 3, '0')
         |    || '-' || lpad(CAST((d.doc_id * 17) % 10000 AS VARCHAR), 4, '0') AS pii
         |  FROM documents d JOIN exp0 USING (doc_id)),
         |cl AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(pii, '$PiiEmail')) AS BIGINT)
         |      + CAST(len(regexp_extract_all(pii, '$PiiIpv4')) AS BIGINT)
         |      + CAST(len(regexp_extract_all(pii, '$PiiPhone')) AS BIGINT) AS n_pii,
         |    regexp_replace(regexp_replace(regexp_replace(pii,
         |      '$PiiEmail', '<EMAIL>', 'g'),
         |      '$PiiIpv4', '<IP>', 'g'),
         |      '$PiiPhone', '<PHONE>', 'g') AS clean_text
         |  FROM p),
         |ky AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('shard_' || CAST(doc_id AS VARCHAR)), 1, 14))
         |      AS BIGINT) AS shuffle_key
         |  FROM documents),
         |de AS MATERIALIZED (SELECT c.doc_id, c.n_pii,
         |    least(CAST(len(string_split(c.clean_text, ' ')) AS BIGINT),
         |      $PackTokenBudget) AS len,
         |    k.shuffle_key % 8 AS shard,
         |    row_number() OVER (PARTITION BY k.shuffle_key % 8
         |      ORDER BY k.shuffle_key, c.doc_id) AS rn
         |  FROM cl c JOIN ky k USING (doc_id)),
         |walk(shard, rn, len, ctx, fill) AS (
         |  SELECT shard, rn, len, CAST(0 AS BIGINT), len FROM de WHERE rn = 1
         |  UNION ALL
         |  SELECT d.shard, d.rn, d.len,
         |    CASE WHEN w.fill + d.len > $PackTokenBudget THEN w.ctx + 1 ELSE w.ctx END,
         |    CASE WHEN w.fill + d.len > $PackTokenBudget THEN d.len ELSE w.fill + d.len END
         |  FROM walk w JOIN de d ON d.shard = w.shard AND d.rn = w.rn + 1),
         |pk AS (SELECT shard, CAST(sum(len) AS BIGINT) AS total_tokens,
         |    CAST(max(ctx) + 1 AS BIGINT) AS n_contexts FROM walk GROUP BY shard),
         |allsh AS (SELECT doc_id, shuffle_key % 8 AS shard FROM ky),
         |fin AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_input
         |  FROM allsh GROUP BY shard),
         |fsurv AS (SELECT a.shard, CAST(count(*) AS BIGINT) AS n_pass
         |  FROM allsh a JOIN surv USING (doc_id) GROUP BY a.shard),
         |fdup AS (SELECT a.shard, CAST(count(*) AS BIGINT) AS n_dup_dropped
         |  FROM allsh a JOIN dup USING (doc_id) GROUP BY a.shard),
         |fexp AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_exported,
         |    CAST(sum(n_pii) AS BIGINT) AS n_pii_hits FROM de GROUP BY shard)
         |SELECT fin.shard, fin.n_input,
         |  CAST(fin.n_input - coalesce(fsurv.n_pass, 0) AS BIGINT) AS n_quality_dropped,
         |  CAST(coalesce(fdup.n_dup_dropped, 0) AS BIGINT) AS n_dup_dropped,
         |  CAST(coalesce(fexp.n_exported, 0) AS BIGINT) AS n_exported,
         |  CAST(coalesce(fexp.n_pii_hits, 0) AS BIGINT) AS n_pii_hits,
         |  CAST(coalesce(pk.total_tokens, 0) AS BIGINT) AS total_tokens,
         |  CAST(coalesce(pk.n_contexts, 0) AS BIGINT) AS n_contexts,
         |  CAST((coalesce(pk.n_contexts, 0) * $PackTokenBudget
         |      - coalesce(pk.total_tokens, 0)) * 1000000
         |    // greatest(coalesce(pk.n_contexts, 0) * $PackTokenBudget, 1) AS BIGINT)
         |    AS waste_ppm
         |FROM fin LEFT JOIN fsurv USING (shard) LEFT JOIN fdup USING (shard)
         |  LEFT JOIN fexp USING (shard) LEFT JOIN pk USING (shard)
         |ORDER BY fin.shard""".stripMargin,
    // q249: greedy side from the SHARED walk CTE (truncated mass),
    // split side from q248's RAW prefix sums (ADVICE r15 #2) — the
    // planner aggregates exactly what each gate query emits
    "q249_packing_policy" ->
      s"""$PackWalkCte,
         |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len) AS BIGINT) AS total_tokens_packed,
         |    max(ctx) + 1 AS n_ctx_greedy
         |  FROM walk GROUP BY shard),
         |o AS (SELECT shard,
         |    CAST(coalesce(sum(raw) OVER (PARTITION BY shard ORDER BY rn
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS start_off, raw
         |  FROM d),
         |fr AS (SELECT shard, CAST(sum(raw) AS BIGINT) AS total_tokens,
         |    CAST(count(*) FILTER (
         |      start_off // $PackTokenBudget
         |        <> (start_off + greatest(raw, 1) - 1) // $PackTokenBudget) AS BIGINT)
         |      AS n_frag_docs
         |  FROM o GROUP BY shard)
         |SELECT g.shard, g.n_docs, fr.total_tokens, g.total_tokens_packed,
         |  (fr.total_tokens + $PackTokenBudget - 1) // $PackTokenBudget AS n_ctx_floor,
         |  g.n_ctx_greedy,
         |  g.n_ctx_greedy
         |    - (g.total_tokens_packed + $PackTokenBudget - 1) // $PackTokenBudget
         |    AS n_ctx_extra,
         |  CAST((g.n_ctx_greedy * $PackTokenBudget - g.total_tokens_packed) * 1000000
         |    // (g.n_ctx_greedy * $PackTokenBudget) AS BIGINT) AS greedy_waste_ppm,
         |  fr.n_frag_docs,
         |  CAST(fr.n_frag_docs * 1000000 // g.n_docs AS BIGINT) AS split_frag_ppm
         |FROM g JOIN fr ON g.shard = fr.shard
         |ORDER BY g.shard""".stripMargin,
    // q250: the same export-order staging, the same two batch keys
    // (arrival pos vs length-desc rank), identical padding arithmetic
    "q250_length_batching" ->
      s"""WITH k AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('shard_' || CAST(doc_id AS VARCHAR)), 1, 14))
         |      AS BIGINT) AS shuffle_key,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS raw
         |  FROM documents),
         |st AS (SELECT doc_id, least(raw, $PackTokenBudget) AS n_tokens,
         |    shuffle_key % 8 AS shard,
         |    row_number() OVER (PARTITION BY shuffle_key % 8
         |      ORDER BY shuffle_key, doc_id) AS pos,
         |    row_number() OVER (PARTITION BY shuffle_key % 8
         |      ORDER BY least(raw, $PackTokenBudget) DESC, doc_id) AS srank
         |  FROM k),
         |a AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_batches,
         |    CAST(sum(bn) AS BIGINT) AS n_docs,
         |    CAST(sum(bsum) AS BIGINT) AS total_tokens,
         |    CAST(sum(bmax * bn - bsum) AS BIGINT) AS arrival_pad_tokens
         |  FROM (SELECT shard, (pos - 1) // $InferBatchDocs AS b,
         |      count(*) AS bn, max(n_tokens) AS bmax, sum(n_tokens) AS bsum
         |    FROM st GROUP BY 1, 2) GROUP BY shard),
         |s AS (SELECT shard,
         |    CAST(sum(bmax * bn - bsum) AS BIGINT) AS sorted_pad_tokens
         |  FROM (SELECT shard, (srank - 1) // $InferBatchDocs AS b,
         |      count(*) AS bn, max(n_tokens) AS bmax, sum(n_tokens) AS bsum
         |    FROM st GROUP BY 1, 2) GROUP BY shard)
         |SELECT a.shard, n_docs, n_batches, total_tokens, arrival_pad_tokens,
         |  sorted_pad_tokens,
         |  CAST((arrival_pad_tokens - sorted_pad_tokens) * 1000000
         |    // greatest(arrival_pad_tokens, 1) AS BIGINT) AS pad_saved_ppm
         |FROM a JOIN s ON a.shard = s.shard
         |ORDER BY a.shard""".stripMargin,
    // q246: the q226 chunk relation plus a batch key (q170's doc_id-range
    // width), then the prior-batch boilerplate rule as a cumulative
    // window — a chunk is dropped from a doc iff its distinct-doc count
    // over batches STRICTLY BEFORE the doc's batch reached the threshold
    "q246_line_dedup_stream" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |ch AS (SELECT doc_id, CAST(u.i AS BIGINT) AS ci,
         |    array_to_string(list_slice(tk,
         |      CAST(u.i * $LineChunkTokens + 1 AS BIGINT),
         |      CAST(u.i * $LineChunkTokens + $LineChunkTokens AS BIGINT)), ' ') AS chunk
         |  FROM t, unnest(range(0, (len(tk) - 1) // $LineChunkTokens + 1)) u(i)),
         |mx AS (SELECT max(doc_id) // 4 + 1 AS width FROM t),
         |hh AS (SELECT doc_id, ci, chunk,
         |    CAST(('0x' || substr(md5(chunk), 1, 14)) AS BIGINT) AS h,
         |    doc_id // (SELECT width FROM mx) AS batch FROM ch),
         |nd AS (SELECT h, batch, count(DISTINCT doc_id) AS nd
         |  FROM hh GROUP BY h, batch),
         |cum AS (SELECT h, batch,
         |    CAST(coalesce(sum(nd) OVER (PARTITION BY h ORDER BY batch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS nd_prior
         |  FROM nd),
         |kept AS (SELECT doc_id, count(*) AS n_kept,
         |    string_agg(chunk, ' ' ORDER BY ci) AS clean_text
         |  FROM hh JOIN cum USING (h, batch)
         |  WHERE nd_prior < $LineDupMinDocs GROUP BY doc_id),
         |base AS (SELECT doc_id, CAST(batch AS BIGINT) AS batch,
         |    count(*) AS n_chunks FROM hh GROUP BY doc_id, batch)
         |SELECT b.doc_id, b.batch, CAST(b.n_chunks AS BIGINT) AS n_chunks,
         |  CAST(b.n_chunks - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM base b LEFT JOIN kept k USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,
    // Both signal CTE chains are the SHARED oracle prefixes (minhash +
    // the full Lloyd replay); the policy layer is two left joins on top
    "q101_hybrid_dedup" ->
      s"""${PipelineQueries.MinhashCandidatesSql},
         |${PipelineQueries.IvfCte.replaceFirst("^WITH ", "")},
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b USING (band, bucket) WHERE a.doc_id < b.doc_id),
         |tdup AS (SELECT doc_b AS doc_id, min(doc_a) AS text_dup_of FROM (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c JOIN sh sa ON c.doc_a = sa.doc_id JOIN sh sb ON c.doc_b = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5)
         |  GROUP BY doc_b),
         |best AS (SELECT b.vec_id,
         |    max(round(list_dot_product(a.nv, b.nv) / (a.nn * b.nn), 4)) AS bc
         |  FROM asg b JOIN asg a ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  GROUP BY b.vec_id),
         |sem AS (SELECT s.vec_id AS doc_id,
         |    CASE WHEN t.bc IS NOT NULL AND t.bc >= $SemThreshold THEN 1 ELSE 0 END AS sem_dup
         |  FROM asg s LEFT JOIN best t ON s.vec_id = t.vec_id)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN td.text_dup_of IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS text_dup,
         |  td.text_dup_of,
         |  CAST(coalesce(sem.sem_dup, 0) AS BIGINT) AS sem_dup,
         |  CAST(CASE WHEN td.text_dup_of IS NULL AND coalesce(sem.sem_dup, 0) = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM documents d LEFT JOIN tdup td USING (doc_id) LEFT JOIN sem USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // The cumulative-boundary window uses both engines' default frame
    // (RANGE UNBOUNDED PRECEDING..CURRENT ROW): a boundary token opens
    // the chunk it belongs to. b2/b3 replay the min-chunk-size clamp:
    // a raw boundary whose previous RAW boundary is < 4 tokens away is
    // suppressed (same lagged-distance rule as the Spark side).
    "q100_cdc_chunking" ->
      """WITH t AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS idx,
        |    unnest(tk) AS tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
        |b AS (SELECT doc_id, idx, tok,
        |    CASE WHEN CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) % 16 = 0
        |      THEN 1 ELSE 0 END AS raw_bd
        |  FROM t),
        |b2 AS (SELECT doc_id, idx, tok, raw_bd,
        |    max(CASE WHEN raw_bd = 1 THEN idx END) OVER
        |      (PARTITION BY doc_id ORDER BY idx
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_raw
        |  FROM b),
        |b3 AS (SELECT doc_id, idx, tok,
        |    CASE WHEN raw_bd = 1 AND (prev_raw IS NULL OR idx - prev_raw >= 4)
        |      THEN 1 ELSE 0 END AS bd
        |  FROM b2),
        |c AS (SELECT doc_id, idx, tok,
        |    sum(bd) OVER (PARTITION BY doc_id ORDER BY idx) AS chunk
        |  FROM b3),
        |ct AS (SELECT doc_id, chunk, string_agg(tok, ' ' ORDER BY idx) AS chunk_text
        |  FROM c GROUP BY doc_id, chunk),
        |chs AS (SELECT doc_id,
        |    CAST(('0x' || substr(md5(chunk_text), 1, 14)) AS BIGINT) AS ch
        |  FROM ct),
        |sh2 AS (SELECT ch FROM (SELECT ch, count(DISTINCT doc_id) AS nd
        |    FROM chs GROUP BY ch) WHERE nd >= 2),
        |pd AS (SELECT doc_id, count(*) AS n_shared FROM chs
        |  WHERE ch IN (SELECT ch FROM sh2) GROUP BY doc_id),
        |nc AS (SELECT doc_id, count(*) AS n_chunks FROM chs GROUP BY doc_id)
        |SELECT nc.doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(coalesce(n_shared, 0) AS DOUBLE) / n_chunks AS shared_fraction
        |FROM nc LEFT JOIN pd USING (doc_id) ORDER BY nc.doc_id""".stripMargin,
    "q120_train_split" ->
      """WITH p AS (SELECT lang,
        |    CAST(CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 14))
        |      AS BIGINT) AS DOUBLE) / 72057594037927936.0 AS frac
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q121_dq_checks" ->
      """WITH w AS (SELECT count(*) AS n_rows,
        |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_null_id,
        |    sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS v_bad_lang,
        |    sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS v_chars_mismatch,
        |    sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS v_empty,
        |    count(doc_id) - count(DISTINCT doc_id) AS v_dup_id
        |  FROM documents),
        |l AS (
        |  SELECT 'doc_id_not_null' AS check_name, v_null_id AS n_violations FROM w
        |  UNION ALL SELECT 'lang_in_domain', v_bad_lang FROM w
        |  UNION ALL SELECT 'n_chars_consistent', v_chars_mismatch FROM w
        |  UNION ALL SELECT 'text_not_empty', v_empty FROM w
        |  UNION ALL SELECT 'doc_id_unique', v_dup_id FROM w)
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM l ORDER BY check_name""".stripMargin,
    // q125: each micro-batch's five checks recomputed batch-at-once
    // with one GROUP BY over the same doc_id % 4 arrival split — the N
    // streamed reports must equal this batch truth
    "q125_dq_history" ->
      """WITH w AS (SELECT doc_id % 4 AS batch_id,
        |    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_null_id,
        |    sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS v_bad_lang,
        |    sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS v_chars_mismatch,
        |    sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS v_empty,
        |    count(doc_id) - count(DISTINCT doc_id) AS v_dup_id
        |  FROM documents GROUP BY 1),
        |l AS (
        |  SELECT batch_id, 'doc_id_not_null' AS check_name, v_null_id AS n_violations FROM w
        |  UNION ALL SELECT batch_id, 'lang_in_domain', v_bad_lang FROM w
        |  UNION ALL SELECT batch_id, 'n_chars_consistent', v_chars_mismatch FROM w
        |  UNION ALL SELECT batch_id, 'text_not_empty', v_empty FROM w
        |  UNION ALL SELECT batch_id, 'doc_id_unique', v_dup_id FROM w)
        |SELECT CAST(batch_id AS BIGINT) AS batch_id, check_name,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM l ORDER BY batch_id, check_name""".stripMargin,
    // q137: the same two unigram models; each ratio is one division of
    // exact BIGINT products (bit-equal doubles), 6dp-round + decimal
    // sum, quantile_cont the cut
    "q137_dsir_resample" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |src AS (SELECT tok, CAST(count(*) AS BIGINT) AS cs FROM tok GROUP BY tok),
        |tgt AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM tok WHERE lang = 'en' GROUP BY tok),
        |model AS (SELECT s.tok, s.cs, coalesce(t.ct, 0) AS ct
        |  FROM src s LEFT JOIN tgt t USING (tok)),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS ts,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM tok),
        |pd AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tok,
        |    sum(CAST(round(
        |      CAST((ct + 1) * (ts + v) AS DOUBLE) / CAST((cs + 1) * (tt + v) AS DOUBLE), 6)
        |      AS DECIMAL(28,10))) AS sum_r
        |  FROM tok JOIN model USING (tok), st GROUP BY doc_id, lang),
        |pda AS (SELECT doc_id, lang, n_tok, CAST(sum_r AS DOUBLE) AS sum_r,
        |    CAST(sum_r AS DOUBLE) / CAST(n_tok AS DOUBLE) AS avg_r FROM pd),
        |cut AS (SELECT quantile_cont(avg_r, 0.8) AS t FROM pda)
        |SELECT doc_id, lang, n_tok, sum_r, avg_r,
        |  CAST(CASE WHEN avg_r > t THEN 1 ELSE 0 END AS BIGINT) AS sampled
        |FROM pda, cut ORDER BY doc_id""".stripMargin,
    // q148: the same widening, 7dp round, decimal sum, one division
    // q172: the same q148 mean arithmetic per half, micro-unit
    // quantization, exact-integer distance sum
    "q172_centroid_drift" ->
      """WITH e AS (SELECT label, vec_id % 2 AS half,
        |    unnest(generate_series(1, len(embedding))) AS i, embedding
        |  FROM embeddings),
        |v AS (SELECT CAST(label AS BIGINT) AS label, half, CAST(i - 1 AS BIGINT) AS dim,
        |        CAST(round(CAST(embedding[i] AS DOUBLE), 7) AS DECIMAL(20,10)) AS x
        |      FROM e),
        |g AS (SELECT label, half, dim, CAST(count(*) AS BIGINT) AS n,
        |        CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) * 1000000.0) AS BIGINT) AS mq
        |      FROM v GROUP BY 1, 2, 3),
        |a AS (SELECT label, dim, n AS n_a, mq AS ma FROM g WHERE half = 0),
        |b AS (SELECT label, dim, n AS n_b, mq AS mb FROM g WHERE half = 1)
        |SELECT label, CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
        |  CAST(sum((ma - mb) * (ma - mb)) AS BIGINT) AS shift_sq_q
        |FROM a JOIN b USING (label, dim) GROUP BY label ORDER BY label""".stripMargin,
    // q188: the same q148/q172 mean quantization, then the dim-keyed
    // pair stage and one shared cosine dag
    "q188_centroid_similarity" ->
      """WITH e AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i,
        |        embedding FROM embeddings),
        |v AS (SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        |        CAST(round(CAST(embedding[i] AS DOUBLE), 7)
        |          AS DECIMAL(20,10)) AS x
        |      FROM e),
        |c AS (SELECT label, dim,
        |        CAST(floor(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |          * 1000000.0) AS BIGINT) AS mq
        |      FROM v GROUP BY 1, 2),
        |nr AS (SELECT label, CAST(sum(mq * mq) AS BIGINT) AS nsq
        |       FROM c GROUP BY 1),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |        CAST(sum(a.mq * b.mq) AS BIGINT) AS dot_q
        |      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |      GROUP BY 1, 2)
        |SELECT label_a, label_b, dot_q,
        |  CAST(dot_q AS DOUBLE) / (sqrt(CAST(na.nsq AS DOUBLE)) *
        |    sqrt(CAST(nb.nsq AS DOUBLE))) AS cos_sim
        |FROM p JOIN nr na ON p.label_a = na.label
        |       JOIN nr nb ON p.label_b = nb.label
        |ORDER BY label_a, label_b""".stripMargin,
    // q184: the same 7dp-round DECIMAL squares, the same micro-unit
    // floor, two partial-agg layers, and the exact near-zero cut
    "q184_embedding_health" ->
      """WITH e AS (SELECT vec_id, label,
        |        unnest(generate_series(1, len(embedding))) AS i, embedding
        |      FROM embeddings),
        |v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |        CAST(round(CAST(embedding[i] AS DOUBLE), 7)
        |          AS DECIMAL(20,10)) AS x
        |      FROM e),
        |n AS (SELECT vec_id, label,
        |        CAST(floor(sum(CAST(x * x AS DECIMAL(38,20))) * 1000000)
        |          AS BIGINT) AS norm2_u
        |      FROM v GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(norm2_u) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_norm2_u,
        |  CAST(min(norm2_u) AS BIGINT) AS min_norm2_u,
        |  CAST(max(norm2_u) AS BIGINT) AS max_norm2_u,
        |  CAST(sum(CASE WHEN norm2_u <> 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_off_unit,
        |  CAST(sum(CASE WHEN norm2_u <> 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(count(*) AS BIGINT) AS off_unit_ppm
        |FROM n GROUP BY label ORDER BY label""".stripMargin,
    "q148_label_centroids" ->
      """WITH e AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i, embedding
        |           FROM embeddings),
        |v AS (SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        |        CAST(round(CAST(embedding[i] AS DOUBLE), 7) AS DECIMAL(20,10)) AS x
        |      FROM e),
        |g AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx
        |      FROM v GROUP BY 1, 2)
        |SELECT label, dim, n, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
        |FROM g ORDER BY label, dim""".stripMargin,
    // q146: the same half-split, the same smoothed integer-bit
    // surprisal, the same one-division means
    "q146_heldout_perplexity" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tr AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
        |hd AS (SELECT * FROM tok WHERE doc_id % 2 = 1),
        |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY tok),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS t,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tr),
        |sc AS (SELECT hd.lang,
        |    CASE WHEN cnt.c IS NULL THEN 1 ELSE 0 END AS oov,
        |    CAST(length(bin((t + v) // (coalesce(cnt.c, 0) + 1))) - 1 AS BIGINT) AS bits
        |  FROM hd LEFT JOIN cnt ON hd.tok = cnt.tok, tot),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(oov) AS BIGINT) AS n_oov, CAST(sum(bits) AS BIGINT) AS sum_bits
        |  FROM sc GROUP BY lang)
        |SELECT lang, n_tokens, n_oov, sum_bits,
        |  CAST(sum_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_bits,
        |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
        |FROM g ORDER BY lang""".stripMargin,
    // q210: identical bigram chain — 1-based list index vs Spark's
    // slice/zip_with produce the same (w1, w2) pairs; integer-bits
    // surprisal, exact BIGINT sums, one final IEEE division
    "q210_bigram_perplexity" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
        |bg AS (SELECT doc_id, lang, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS bg
        |       FROM (SELECT doc_id, lang, tk,
        |               unnest(generate_series(1, len(tk) - 1)) AS i
        |             FROM toks WHERE len(tk) >= 2)),
        |tr AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
        |hd AS (SELECT * FROM bg WHERE doc_id % 2 = 1),
        |cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM tr GROUP BY 1),
        |cc AS (SELECT w1, CAST(count(*) AS BIGINT) AS cc FROM tr GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM tr),
        |sc AS (SELECT hd.lang,
        |    CASE WHEN cc.cc IS NULL THEN 1 ELSE 0 END AS ctx_oov,
        |    CASE WHEN cc.cc IS NOT NULL AND cb.cb IS NULL THEN 1 ELSE 0 END AS novel,
        |    CAST(length(bin((coalesce(cc.cc, 0) + v) // (coalesce(cb.cb, 0) + 1))) - 1 AS BIGINT) AS bits
        |  FROM hd LEFT JOIN cb ON hd.bg = cb.bg
        |          LEFT JOIN cc ON hd.w1 = cc.w1, vv),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(ctx_oov) AS BIGINT) AS n_ctx_oov,
        |    CAST(sum(novel) AS BIGINT) AS n_novel,
        |    CAST(sum(bits) AS BIGINT) AS sum_bits
        |  FROM sc GROUP BY lang)
        |SELECT lang, n_bigrams, n_ctx_oov, n_novel, sum_bits,
        |  CAST(sum_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS mean_bits
        |FROM g ORDER BY lang""".stripMargin,
    // q127: the same quantized-surprisal model replayed — T // c is
    // integer division (Spark's `div`), bin() the binary string on
    // both engines, quantile_cont the q46 percentile twin
    "q127_lm_quality" ->
      s"""WITH $LmTierCtes
         |SELECT doc_id, n_tok, sum_bits, avg_bits, tier
         |FROM tiers ORDER BY doc_id""".stripMargin,
    // row_number <= cap replays the bounded MinKLong selection exactly:
    // both rank by (priority asc, doc_id asc) within the domain
    "q103_domain_cap" ->
      s"""WITH p AS (SELECT doc_id, source,
         |    CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 14))
         |      AS BIGINT) AS pri
         |  FROM documents),
         |r AS (SELECT doc_id, source, pri,
         |    row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rk
         |  FROM p)
         |SELECT doc_id, source, pri,
         |  CAST(CASE WHEN rk <= $DomainCap THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM r ORDER BY doc_id""".stripMargin,
    // priority = w / ((CAST(h AS DOUBLE) + 1) / 2^56) mirrors the Spark
    // expression op-for-op: int64→double conversion, exact power-of-two
    // division, one w/u division — every step IEEE-identical
    // q162: the same quantized weights, exact-integer sums, floored
    // IEEE shares, cap, and one waterfilling round
    "q162_mixture_allocation" ->
      """WITH per AS (SELECT source, lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |wq AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
        |       FROM per),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw,
        |          CAST(sum(n_tokens) AS BIGINT) AS n_total FROM wq),
        |a1 AS (SELECT wq.*, n_total // 2 AS budget,
        |         CAST(floor((n_total // 2) * CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT) AS ideal
        |       FROM wq, tot),
        |a2 AS (SELECT *, least(n_tokens, ideal) AS alloc1 FROM a1),
        |t2 AS (SELECT CAST(sum(alloc1) AS BIGINT) AS sa,
        |         CAST(sum(CASE WHEN ideal < n_tokens THEN w ELSE 0 END) AS BIGINT) AS sw2
        |       FROM a2),
        |a3 AS (SELECT source, lang, n_tokens, w, alloc1,
        |         CASE WHEN ideal < n_tokens AND sw2 > 0
        |              THEN least(n_tokens, alloc1 + CAST(floor(CAST(budget - sa AS DOUBLE)
        |                     * CAST(w AS DOUBLE) / CAST(sw2 AS DOUBLE)) AS BIGINT))
        |              ELSE alloc1 END AS alloc_final
        |       FROM a2, t2)
        |SELECT source, lang, n_tokens, w AS weight_q, alloc1, alloc_final,
        |  CAST(CASE WHEN alloc_final = n_tokens THEN 1 ELSE 0 END AS BIGINT) AS capped
        |FROM a3 ORDER BY source, lang""".stripMargin,
    "q104_priority_sample" ->
      s"""WITH p AS (SELECT doc_id, n_chars,
         |    CAST(n_chars AS DOUBLE) /
         |      ((CAST(CAST(('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 14))
         |          AS BIGINT) AS DOUBLE) + 1) / 72057594037927936.0) AS pri
         |  FROM documents),
         |r AS (SELECT doc_id, n_chars, pri,
         |    row_number() OVER (ORDER BY pri DESC, doc_id) AS rk FROM p),
         |t AS (SELECT max(CASE WHEN rk = ${PrioritySampleK + 1} THEN pri END) AS tau FROM r)
         |SELECT doc_id, n_chars, pri,
         |  greatest(CAST(n_chars AS DOUBLE), coalesce(tau, 0.0)) AS est_weight
         |FROM r, t WHERE rk <= $PrioritySampleK ORDER BY doc_id""".stripMargin
  )
}
