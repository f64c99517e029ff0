package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.queries.QueryDef

/** Extension operator queries (SURVEY.md §7.5): dedup, text analysis,
  * similarity, multimodal plumbing — the LLM-training-data pipeline surface.
  */
object ExtQueries {

  private val stopList = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")

  // -- exact dedup: hash-groupBy --------------------------------------------
  val q_dedup_exact: QueryDef = QueryDef(
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY text_hash ORDER BY text_hash""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("text_hash"))
  }

  // -- token counting: whitespace + regex tokenizer -------------------------
  val q_token_count: QueryDef = QueryDef(
    s"""SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '${TextAnalysis.TokenRegex}')) AS n_re_tokens
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_ws_tokens"),
        size(TextAnalysis.regexTokens(col("text"))).as("n_re_tokens"))
      .orderBy(col("doc_id"))
  }

  // -- quality scoring: integer metrics + integer-compare bucket ------------
  val q_quality_score: QueryDef = QueryDef(
    s"""SELECT doc_id, n_chars, n_tokens, n_stop,
       |  CASE WHEN n_stop * 10 >= n_tokens THEN 'high'
       |       WHEN n_stop * 20 >= n_tokens THEN 'mid'
       |       ELSE 'low' END AS quality
       |FROM (
       |  SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_tokens,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopList))) AS n_stop
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(toks).as("n_tokens"),
        TextAnalysis.stopwordCount(toks).as("n_stop"))
      .withColumn("quality",
        when(col("n_stop") * 10 >= col("n_tokens"), "high")
          .when(col("n_stop") * 20 >= col("n_tokens"), "mid")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  // -- language-ID heuristic: stopword-hit ratio ----------------------------
  val q_lang_id: QueryDef = QueryDef(
    s"""SELECT lang, predicted, count(*) AS cnt FROM (
       |  SELECT lang,
       |    CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ($stopList))) * 5
       |           >= len(string_split(text, ' '))
       |         THEN 'en' ELSE 'other' END AS predicted
       |  FROM documents) t
       |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin) { (s, dir) =>
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("lang"),
        when(TextAnalysis.stopwordCount(toks) * 5 >= size(toks), "en")
          .otherwise("other").as("predicted"))
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"), col("predicted"))
  }

  // -- document fingerprint: min-hash of word 5-gram shingles ---------------
  // Per-row expressions only — the round-1 explode+groupBy shape shuffled
  // 5-10x the corpus to recompute a value each row already owns; this form
  // is a single codegen'd projection with zero shuffle. Docs with <5 tokens
  // keep a row (null fingerprint, 0 shingles) rather than vanishing.
  val q_doc_fingerprint: QueryDef = QueryDef(
    """SELECT doc_id,
      |  list_min(list_transform(sh, s -> md5(s))) AS fingerprint,
      |  len(list_distinct(sh)) AS n_shingles
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 5 THEN list_transform(range(1, len(w) - 3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
      |    ELSE CAST([] AS VARCHAR[]) END AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) x) t
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sh = TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 5)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        array_min(transform(sh, s => md5(s))).as("fingerprint"),
        size(array_distinct(sh)).as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  // -- TF-IDF top terms per document ----------------------------------------
  // Classic text-analysis roll-up: term frequency per (doc, term), document
  // frequency per term, rank each doc's terms by tf·idf. The score is the
  // RATIONAL surrogate tf * 1e6 / df in BIGINT integer division — ranking
  // by it is identical to ranking by tf/df, and unlike a float
  // ln(N/df)-based score it is bit-stable across engines (a 1-ulp libm
  // disagreement near equal scores would flip ranks and fail the hash
  // gate). Scale shape: one explode + two aggregations; the df join
  // co-partitions on `term` (vocabulary-sized, not corpus-sized); the
  // top-k window partitions by doc_id.
  val q_tfidf_topterms: QueryDef = QueryDef(
    """WITH t AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE term <> '' GROUP BY doc_id, term),
      |d AS (SELECT term, count(*) AS df FROM t GROUP BY term),
      |s AS (SELECT doc_id, term, tf, df, tf * 1000000 // df AS score
      |  FROM t JOIN d USING (term)),
      |r AS (SELECT doc_id, term, tf, df, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk
      |  FROM s)
      |SELECT doc_id, term, tf, df, score, rnk FROM r WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // tf off the shared materialized token frame (one tokenize per corpus
    // version — see TextAnalysis.corpusTokens); the tf aggregate itself
    // is persisted because it feeds both the df roll-up and the score join
    val t = TextAnalysis.corpusTokens(s, dir)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t.count() // eager barrier — see Dedup.lshJaccardPairs
    val d = t.groupBy(col("term")).agg(count(lit(1)).as("df"))
    t.join(d, "term")
      .withColumn("score", expr("tf * 1000000 div df"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  // -- deterministic stratified sampling (data mixing) ----------------------
  // A training-data mixer needs per-stratum downsampling ("at most N docs
  // per source") that is reproducible run-to-run and engine-to-engine: the
  // keep decision is a pure function of the row key, never an RNG. Keep
  // doc iff (md5-hash(doc_id) % 1e6) * n_stratum < target * 1e6 — i.e. a
  // keep fraction of min(1, target/n_stratum) — all in BIGINT (max
  // product 1e6 * n, overflow-free past 1e12 rows/stratum). Scale shape:
  // one tiny per-stratum count aggregate broadcast back against a single
  // corpus scan; no shuffle of the big table, no sort, no limit.
  val q_stratified_sample: QueryDef = QueryDef(
    """WITH n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
      |h AS (SELECT doc_id, lang, source,
      |    CAST('0x' || substr(md5('samp|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 1000000 AS sample_key
      |  FROM documents)
      |SELECT doc_id, lang, source, sample_key
      |FROM h JOIN n USING (source)
      |WHERE sample_key * n_s < 100 * 1000000
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val n = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    docs.join(broadcast(n), "source")
      .withColumn("sample_key",
        graft.functions.Md5PrefixLong(
          concat(lit("samp|"), col("doc_id").cast("string")), 15) % 1000000)
      .filter(col("sample_key") * col("n_s") < lit(100L * 1000000L))
      .select(col("doc_id"), col("lang"), col("source"), col("sample_key"))
      .orderBy(col("doc_id"))
  }

  // -- test-set decontamination: benchmark n-gram overlap -------------------
  // THE training-data hygiene op: flag corpus documents sharing word
  // 3-gram shingles with a held-out benchmark/eval set, so eval questions
  // that leaked into the corpus are caught before training. The benchmark
  // here is a deterministic corpus slice (doc_id % 37 = 0) to stay
  // oracle-expressible; in production it is an external MB-scale table
  // (MMLU/GSM8K-sized), which is exactly why the plan broadcasts the
  // aggregated benchmark shingle set. Scale shape: the 100 TB corpus is
  // exploded ONCE into shingle hashes and inner-joined against the
  // broadcast set — no shuffle of the corpus; only HIT rows (contamination-
  // scale, tiny) reach the per-doc aggregation. Reuses the dedup family's
  // 60-bit shingle hashing (one md5 per shingle, native expression), so
  // overlap is computed on longs, not strings.
  val q_decontaminate: QueryDef = QueryDef(
    s"""WITH hs AS (${Dedup.wordShingleSql.replace("\n", "\n      ")}),
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id % 37 = 0),
       |corpus AS (SELECT doc_id, len(hs) AS n_shingles, unnest(hs) AS h
       |  FROM hs WHERE doc_id % 37 <> 0)
       |SELECT doc_id, n_shingles, count(*) AS n_hits,
       |  count(*) * 10 >= n_shingles AS flagged
       |FROM corpus JOIN bench USING (h)
       |GROUP BY doc_id, n_shingles
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val hs = Dedup.corpusShingles(s, dir) // checkpointed once per (session, dir)
    val bench = hs.filter(col("doc_id") % 37 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    hs.filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("flagged", col("n_hits") * 10 >= col("n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  // -- Bloom-filter semijoin decontamination --------------------------------
  // q_decontaminate broadcasts the EXACT benchmark shingle-hash set; at
  // 100 TB with a large benchmark suite that set stops broadcasting —
  // the production fix is a Bloom filter (m bits, k hashes: fixed size
  // whatever the benchmark cardinality, one-sided error). This op runs
  // that plan with a DETERMINISTIC bloom (k=3 seeded md5 positions into
  // m=4096 bits, derived cross-engine from the same hash60 contract) and
  // REPORTS the error honestly: per flagged doc, bloom hits next to true
  // hits, so the false-positive overcount is measured, not assumed.
  // Plan shape: the bit set builds from the benchmark side only (bench-
  // cardinality x k, distinct to <= m rows); membership is 3 broadcast
  // hash-joins on integer positions (never an array scan per token); the
  // corpus is touched once. A native production variant would pack the
  // positions into spark.util.sketch.BloomFilter's bitmask — the plan
  // (build small side, broadcast, semijoin probe) is identical.
  private def bloomPosSql(seed: Int): String =
    s"(CAST('0x' || substr(md5('$seed|' || CAST(h AS VARCHAR)), 1, 15) AS BIGINT) % 4096)"
  private def bloomPos(seed: Int) =
    (TextAnalysis.hash60(col("h").cast("string"), seed) % 4096).as(s"pos$seed")
  val q_bloom_semijoin: QueryDef = QueryDef(
    s"""WITH hs AS (${Dedup.wordShingleSql.replace("\n", "\n      ")}),
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id % 37 = 0),
       |bits AS (SELECT DISTINCT pos FROM (
       |  ${Seq(201, 202, 203).map(s => s"SELECT ${bloomPosSql(s)} AS pos FROM bench")
            .mkString("\n  UNION ALL ")})),
       |corpus AS (SELECT doc_id, len(hs) AS n_shingles, unnest(hs) AS h
       |  FROM hs WHERE doc_id % 37 <> 0),
       |bh AS (SELECT doc_id, n_shingles,
       |    CASE WHEN ${Seq(201, 202, 203)
              .map(s => s"${bloomPosSql(s)} IN (SELECT pos FROM bits)")
              .mkString("\n      AND ")} THEN 1 ELSE 0 END AS bloom_hit,
       |    CASE WHEN h IN (SELECT h FROM bench) THEN 1 ELSE 0 END AS true_hit
       |  FROM corpus)
       |SELECT doc_id, n_shingles, CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
       |  CAST(sum(true_hit) AS BIGINT) AS n_true_hits
       |FROM bh GROUP BY doc_id, n_shingles
       |HAVING sum(bloom_hit) > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val hs = Dedup.corpusShingles(s, dir) // checkpointed once per (session, dir)
    val bench = hs.filter(col("doc_id") % 37 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    val bits = Seq(201, 202, 203)
      .map(sd => bench.select(bloomPos(sd).as("pos")))
      .reduce(_ unionAll _).distinct()
    val corpus = hs.filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
    // k broadcast probe joins: match column non-null <=> position present
    val probed = Seq(201, 202, 203).foldLeft(
        corpus.select(col("doc_id"), col("n_shingles"), col("h"),
          bloomPos(201), bloomPos(202), bloomPos(203))) { (acc, sd) =>
      acc.join(broadcast(bits.select(col("pos").as(s"pos$sd"), lit(1).as(s"m$sd"))),
        Seq(s"pos$sd"), "left")
    }
    probed
      .withColumn("bloom_hit",
        when(col("m201").isNotNull && col("m202").isNotNull && col("m203").isNotNull, 1L)
          .otherwise(0L))
      .join(broadcast(bench.withColumn("true1", lit(1L))), Seq("h"), "left")
      .withColumn("true_hit", coalesce(col("true1"), lit(0L)))
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(col("bloom_hit")).as("n_bloom_hits"), sum(col("true_hit")).as("n_true_hits"))
      .filter(col("n_bloom_hits") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"), col("n_true_hits"))
      .orderBy(col("doc_id"))
  }

  // -- repetition score: duplicate word-2-gram fraction ---------------------
  // Gopher-style boilerplate/repetition quality signal: the fraction of a
  // document's word bigrams that are repeats of an earlier bigram. Pure
  // per-row column expressions (one corpus scan, zero shuffle, codegen'd);
  // the bucket compare is integer-only so the hash gate can't drift.
  val q_repetition_score: QueryDef = QueryDef(
    """SELECT doc_id, len(g) AS n_2grams,
      |  len(list_distinct(g)) AS n_distinct_2grams,
      |  len(g) - len(list_distinct(g)) AS n_dup,
      |  CASE WHEN len(g) = 0 THEN 'empty'
      |       WHEN (len(g) - len(list_distinct(g))) * 2 >= len(g) THEN 'high'
      |       WHEN (len(g) - len(list_distinct(g))) * 10 >= len(g) THEN 'mid'
      |       ELSE 'low' END AS rep_bucket
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i+1])
      |    ELSE CAST([] AS VARCHAR[]) END AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 2).as("g"))
      .select(col("doc_id"),
        size(col("g")).as("n_2grams"),
        size(array_distinct(col("g"))).as("n_distinct_2grams"))
      .withColumn("n_dup", col("n_2grams") - col("n_distinct_2grams"))
      .withColumn("rep_bucket",
        when(col("n_2grams") === 0, "empty")
          .when(col("n_dup") * 2 >= col("n_2grams"), "high")
          .when(col("n_dup") * 10 >= col("n_2grams"), "mid")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  // -- sequence packing: concat-and-chunk over sharded streams --------------
  // Pretraining pipelines concatenate documents into one token stream and
  // cut it into fixed-size training sequences (GPT-style packing). The
  // global stream is sharded by an md5 key so the cumulative-sum window is
  // PARTITIONED (one sort per shard, embarrassingly parallel at 100 TB —
  // shard count scales with the cluster, a single global window would
  // serialize the corpus through one task). Every value is BIGINT: the
  // running offset uses integral `div`/`%` so chunk assignment is
  // bit-identical in both engines. n_splits counts the chunk boundaries a
  // document straddles — the packing-loss signal a mixer monitors.
  val q_pack_chunks: QueryDef = QueryDef(
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 8 AS shard,
      |    len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
      |  FROM d)
      |SELECT doc_id, shard, n_tokens,
      |  (cum_end - n_tokens) // 256 AS pack_seq,
      |  (cum_end - n_tokens) % 256 AS pack_offset,
      |  (cum_end - 1) // 256 - (cum_end - n_tokens) // 256 AS n_splits
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        (graft.functions.Md5PrefixLong(
          concat(lit("pack|"), col("doc_id").cast("string")), 15) % 8).as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_end", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr("(cum_end - n_tokens) div 256").as("pack_seq"),
        ((col("cum_end") - col("n_tokens")) % 256).as("pack_offset"),
        expr("(cum_end - 1) div 256 - (cum_end - n_tokens) div 256").as("n_splits"))
      .orderBy(col("doc_id"))
  }

  // -- boilerplate stripping: corpus-DF common tokens removed in place ------
  // CCNet/RefinedWeb-style boilerplate removal, at token granularity (the
  // synthetic docs have no line structure): a token is boilerplate when it
  // appears in >= 78% of documents. Scale shape: the only corpus shuffle
  // is the (doc, term)-distinct DF aggregation, whose output is
  // VOCABULARY-sized; the flagged set is tiny by construction (high-DF
  // terms), carried as ONE array row broadcast-cross-joined against a
  // single corpus scan, and the rebuild is a codegen'd per-row HOF filter
  // that preserves token order — no explode/regroup of the 100 TB side,
  // no driver-side collect.
  val q_boilerplate_strip: QueryDef = QueryDef(
    """WITH w AS (SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)),
      |d AS (SELECT term, count(*) AS df FROM w GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |b AS (SELECT coalesce(list(term), CAST([] AS VARCHAR[])) AS common
      |  FROM d, n WHERE df * 50 >= 39 * n_docs)
      |SELECT doc_id,
      |  len(toks) AS n_tokens_before,
      |  len(kept) AS n_tokens_after,
      |  coalesce(array_to_string(kept, ' '), '') AS stripped_text
      |FROM (
      |  SELECT doc_id, toks,
      |    list_filter(toks, t -> NOT list_contains(common, t)) AS kept
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), b)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val df = docs
      .repartition(col("doc_id")) // spread the explode — see Dedup.wordShingleDocs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // |common| is structurally tiny: every member appears in >= 78% of
    // docs, so |common| <= avg_tokens_per_doc / 0.78 regardless of corpus
    // size — the per-token array_contains scan is O(|common|) with that
    // constant bound. (A Spark map column would NOT improve this:
    // map_contains_key also scans ArrayBasedMapData linearly.) The
    // raise_error makes the bound a loud contract instead of a silent
    // slowdown if a future threshold change ever inflates the set.
    val common = df
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .filter(col("df") * 50 >= col("n_docs") * 39)
      .agg(sort_array(collect_list(col("term"))).as("common"))
      .select(when(size(col("common")) > 4096,
        raise_error(concat(lit("boilerplate common-token set of "),
          size(col("common")).cast("string"),
          lit(" exceeds the 4096 linear-scan bound — threshold regression?"))))
        .otherwise(col("common")).as("common"))
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .crossJoin(broadcast(common))
      .withColumn("kept",
        filter(col("toks"), t => !array_contains(col("common"), t)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens_before"),
        size(col("kept")).cast("long").as("n_tokens_after"),
        array_join(col("kept"), " ").as("stripped_text"))
      .orderBy(col("doc_id"))
  }

  // -- cross-source contamination matrix -------------------------------------
  // Corpus-hygiene roll-up: for every pair of sources, how many distinct
  // word-3-gram shingles they share — the "is source B a scrape of source
  // A" signal a mixer consults before weighting sources. Scale shape: the
  // corpus-sized work is ONE distinct over (source, shingle-hash) reusing
  // the materialized shingle table; the pair join shuffles on the 60-bit
  // hash and fans out <= n_sources per hash side (sources are dozens, not
  // corpus-scale), and the per-source totals are a tiny broadcast. In
  // production the shingle table carries `source` from birth; here it is
  // re-attached by a doc_id join against the documents scan.
  val q_source_overlap: QueryDef = QueryDef(
    s"""WITH hs AS (${Dedup.wordShingleSql.replace("\n", "\n      ")}),
       |ss AS (SELECT DISTINCT d.source AS source, x.h
       |  FROM (SELECT doc_id, unnest(hs) AS h FROM hs) x
       |  JOIN documents d USING (doc_id)),
       |n AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY source),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
       |  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_common, na.n_sh AS n_a, nb.n_sh AS n_b
       |FROM p JOIN n na ON na.source = p.source_a
       |       JOIN n nb ON nb.source = p.source_b
       |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    // Sources are dozens, not corpus-scale (see the roll-up note above),
    // so each source gets one BIT of a long and the corpus-sized work
    // collapses to ONE codegen exchange of (h: long, bit: long) with a
    // bit_or per shingle hash — bit_or is idempotent, so the old
    // SELECT DISTINCT pass is subsumed, and the old h ⋈ h self-join
    // (a second corpus-scale exchange plus an n_pairs-per-hash join
    // fan-out) is replaced by aggregating the DISTINCT source-bitmasks,
    // a frame bounded by min(n_distinct_h, 2^n_sources) rows. The bit
    // index is the source's rank in its sorted dictionary, so bit tests
    // reproduce exactly the old `a.source < b.source` pairs. Bounded
    // driver collect per the engine's loud-require pattern.
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    // NULL is no source: the oracle's `a.source < b.source` never pairs
    // it, so it takes no bit. limit(64) bounds the collect — one name past
    // the cap is enough to fail loudly, not the whole dictionary
    val srcNames = docs.select(col("source")).where(col("source").isNotNull)
      .distinct().orderBy(col("source")).limit(64)
      .collect().map(_.getString(0))
    require(srcNames.length <= 63,
      s"source-overlap bitmask supports <=63 sources, got more than 63")
    import s.implicits._
    val dict = srcNames.toSeq.zipWithIndex.toDF("source", "bit")
    val masks = Dedup.corpusShingles(s, dir)
      .join(docs, "doc_id")
      .join(broadcast(dict), "source")
      .select(explode(col("hs")).as("h"),
        expr("shiftleft(1L, bit)").as("b"))
      .groupBy(col("h")).agg(expr("bit_or(b)").as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    masks.count() // eager barrier — see Dedup.lshJaccardPairs
    // Equi-joins and Generates only from here down (a non-equi bit-test
    // join would plan BroadcastNestedLoopJoin — interpreted predicate
    // over masks × dict, measured 5× this shape).
    val withBits = masks.select(col("cnt"),
        expr(s"filter(sequence(0, ${srcNames.length - 1})," +
          " i -> (shiftright(m, i) & 1L) = 1L)").as("bits"))
      .select(col("cnt"), col("bits"), explode(col("bits")).as("bit_a"))
    val n = withBits.groupBy(col("bit_a")).agg(sum(col("cnt")).as("n_sh"))
    withBits
      .select(col("cnt"), col("bit_a"),
        explode(filter(col("bits"), j => j > col("bit_a"))).as("bit_b"))
      .groupBy(col("bit_a"), col("bit_b"))
      .agg(sum(col("cnt")).as("n_common"))
      .join(broadcast(dict.toDF("source_a", "bit_a")), "bit_a")
      .join(broadcast(dict.toDF("source_b", "bit_b")), "bit_b")
      .join(broadcast(n.toDF("bit_a", "n_a")), "bit_a")
      .join(broadcast(n.toDF("bit_b", "n_b")), "bit_b")
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a"), col("n_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // -- weighted mixture upsampling (epochs to a token budget) ----------------
  // The other half of data mixing (q_stratified_sample downsamples): repeat
  // each source's documents until the source contributes ~TARGET tokens —
  // floor(TARGET / tokens_s) full epochs, plus a fractional final epoch
  // where each doc is kept iff md5(doc) % 1e6 scaled by the source's token
  // mass falls under the remainder — deterministic, RNG-free, engine-
  // identical, all BIGINT. Scale shape: a per-source token-count aggregate
  // (dozens of rows) broadcast back against ONE corpus scan; the explode
  // emits <= full_epochs+1 rows per doc and nothing is ever sorted or
  // re-shuffled.
  val q_mix_epochs: QueryDef = QueryDef(
    """WITH t AS (SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_s FROM t GROUP BY source),
      |e AS (SELECT doc_id, t.source, n_tokens, tok_s,
      |    2000 // tok_s AS n_full, 2000 % tok_s AS rem,
      |    CAST('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
      |      % 1000000 AS k
      |  FROM t JOIN s ON s.source = t.source),
      |x AS (SELECT doc_id, source, n_tokens, n_full, rem, k, tok_s,
      |    unnest(generate_series(0, n_full)) AS epoch FROM e)
      |SELECT doc_id, source, n_tokens, CAST(epoch AS BIGINT) AS epoch
      |FROM x
      |WHERE epoch < n_full OR k * tok_s < rem * 1000000
      |ORDER BY doc_id, epoch""".stripMargin) { (s, dir) =>
    val target = 2000L
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val src = t.groupBy(col("source")).agg(sum("n_tokens").as("tok_s"))
    t.join(broadcast(src), "source")
      .withColumn("n_full", expr(s"$target div tok_s"))
      .withColumn("rem", lit(target) % col("tok_s"))
      .withColumn("k",
        graft.functions.Md5PrefixLong(
          concat(lit("mix|"), col("doc_id").cast("string")), 15) % 1000000)
      .withColumn("epoch", explode(sequence(lit(0L), col("n_full"))))
      .filter(col("epoch") < col("n_full") ||
        col("k") * col("tok_s") < col("rem") * lit(1000000L))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  // -- deterministic epoch shuffle (training-order assignment) --------------
  // A trainer needs each epoch's global document order to be (a) a
  // different permutation per epoch, (b) reproducible bit-for-bit across
  // reruns and engines, (c) computable WITHOUT a global sort. Standard
  // md5-sharded shuffle: per (epoch, doc) a 60-bit hash key orders docs;
  // shard = key % n_shards gives the file/worker assignment, position =
  // row_number within the (epoch, shard) window gives the read order.
  // Scale shape: one corpus scan, one hash-partition exchange on
  // (epoch, shard); each window sorts only corpus/n_shards rows — at
  // 100 TB n_shards is set in the thousands so per-shard sorts fit an
  // executor, and hash-uniform keys keep shards balanced (no skew; no
  // single-partition window anywhere). The trailing global orderBy is
  // presentation-only for the oracle compare.
  val q_epoch_shuffle: QueryDef = QueryDef(
    """WITH x AS (SELECT doc_id, e.epoch,
      |    CAST('0x' || substr(md5('ep' || CAST(e.epoch AS VARCHAR) || '|'
      |      || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS skey
      |  FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e)
      |SELECT epoch, doc_id, skey % 8 AS shard,
      |  CAST(row_number() OVER (PARTITION BY epoch, skey % 8
      |    ORDER BY skey, doc_id) AS BIGINT) AS pos
      |FROM x
      |ORDER BY epoch, shard, pos""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(array(lit(0), lit(1))).as("epoch"))
      .withColumn("skey", graft.functions.Md5PrefixLong(
        concat(lit("ep"), col("epoch").cast("string"), lit("|"),
          col("doc_id").cast("string")), 15))
      .withColumn("shard", col("skey") % 8)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("skey"), col("doc_id"))).cast("long"))
      .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  // -- the capstone: one query that ships the filtered training corpus ------
  // Every hygiene operator composed the way a production pipeline chains
  // them: drop the held-out benchmark slice, drop non-canonical near-dup
  // cluster members (H15), drop decontamination hits (H20), then apply
  // the per-row gates (length floor, stopword-ratio quality != 'low').
  // Scale shape: the drop sets are contamination-scale and BROADCAST into
  // one left-anti join; every gate is a pushed-down per-row predicate on
  // the single corpus scan; the expensive inputs (shingle table, verified
  // pairs) are the same materialized frames the individual queries share.
  val q_corpus_filter: QueryDef = QueryDef(
    s"""WITH RECURSIVE ${Dedup.duckLshJaccardCtes(Dedup.wordShingleSql, bands = 8, r = 2)},
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM jv
       |  UNION SELECT doc_b, doc_a FROM jv),
       |r AS (SELECT src AS id, dst AS m FROM e
       |  UNION SELECT r.id, e.dst FROM r JOIN e ON r.m = e.src),
       |drop_set AS (SELECT id FROM r GROUP BY id HAVING least(id, min(m)) <> id),
       |bench AS (SELECT DISTINCT unnest(hs) AS h FROM d WHERE doc_id % 37 = 0),
       |contam AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, len(hs) AS n_shingles, unnest(hs) AS h
       |    FROM d WHERE doc_id % 37 <> 0) x
       |  JOIN bench USING (h)
       |  GROUP BY doc_id, n_shingles HAVING count(*) * 10 >= n_shingles),
       |feats AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($stopList))) AS n_stop
       |  FROM documents)
       |SELECT doc_id, source, n_tokens, n_stop FROM feats
       |WHERE doc_id % 37 <> 0
       |  AND doc_id NOT IN (SELECT id FROM drop_set)
       |  AND doc_id NOT IN (SELECT doc_id FROM contam)
       |  AND n_tokens >= 10
       |  AND n_stop * 20 >= n_tokens
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val hs = Dedup.corpusShingles(s, dir)
    val dropSet = Components.connectedComponents(
      Dedup.corpusLshPairs(s, dir, bands = 8, r = 2).select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val bench = hs.filter(col("doc_id") % 37 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    val contam = hs.filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_shingles"),
        explode(col("hs")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") * 10 >= col("n_shingles"))
      .select(col("doc_id"))
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, dir)
      .filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"), col("source"),
        size(toks).as("n_tokens"), TextAnalysis.stopwordCount(toks).as("n_stop"))
      .filter(col("n_tokens") >= 10 && col("n_stop") * 20 >= col("n_tokens"))
      .join(broadcast(dropSet.unionByName(contam).distinct()), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_stop"))
      .orderBy(col("doc_id"))
  }

  // -- sketch aggregates: HLL distinct + approximate quantiles --------------
  // Corpus-stats surface for scale: exact distinct-count of a 100 TB text
  // column shuffles every distinct value; HyperLogLog++ answers in one
  // pass with bounded memory (rsd 1% ≈ 10 KB per group), and quantile
  // summaries (Greenwald-Khanna) replace a per-group sort.
  /** The production one-pass sketch shape — ExtSpec pins its estimates
    * against exact answers (<= 10% relative error).
    */
  private[ext] def sketchStatsRaw(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        approx_count_distinct(col("text"), 0.01).as("approx_distinct_docs"),
        count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("approx_median_chars"))
      .orderBy(col("source"))

  // The raw HLL/GK estimates can never hash-match DuckDB (its
  // approx_distinct/approx_quantile build DIFFERENT sketches), so the
  // DECLARED query emits the deterministic stats plus TOLERANCE BOOLEANS
  // — |sketch − exact| within 10% of exact, the same bound ExtSpec pins —
  // and the oracle asserts those booleans as literal TRUE. A sketch
  // regression flips a boolean and FAILS the driver's hash gate, so the
  // accuracy contract rides the per-round correctness check instead of
  // living only in the test suite (VERDICT r4 next #8). The exact twin
  // aggregates exist only to gate the sketches at verification SFs; the
  // production operator is [[sketchStatsRaw]] alone.
  val q_sketch_stats: QueryDef = QueryDef(
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT text) AS exact_distinct_docs,
      |  TRUE AS hll_within_10pct, TRUE AS gk_within_10pct
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("exact_distinct_docs"),
        approx_count_distinct(col("text"), 0.01).as("ad"),
        expr("percentile(n_chars, 0.5)").as("em"),
        percentile_approx(col("n_chars"), lit(0.5), lit(1000)).as("am"))
      .select(col("source"), col("n_docs"), col("exact_distinct_docs"),
        (abs(col("ad") - col("exact_distinct_docs")) * 10 <=
          col("exact_distinct_docs")).as("hll_within_10pct"),
        (abs(col("am").cast("double") - col("em")) * 10.0 <= col("em"))
          .as("gk_within_10pct"))
      .orderBy(col("source"))
  }

  // -- count-min sketch: frequency estimation with bounded state -------------
  // The OTHER sketch class (q_sketch_stats covers cardinality/quantiles;
  // this is frequency): a d×w grid of counters where every item increments
  // one counter per row and its estimate is the MIN across rows — always
  // >= exact, within eps·N with probability 1−δ (d=4, w=256 here). Unlike
  // HLL/GK, a count-min built from md5-derived bucket hashes is FULLY
  // DETERMINISTIC, so the whole sketch — not a tolerance boolean — is
  // oracle-hashable: both engines build the identical grid and identical
  // estimates, and the driver hash-gates the approximation itself.
  // Scale shape: the grid is d·w integers built by one groupBy (mergeable
  // across partitions, batches, and days — the streaming/pre-agg
  // frequency summary when key cardinality makes exact per-key state
  // impossible); the exact column here is the demonstration baseline the
  // estimate is judged against at test scale, not part of the production
  // operator.
  val q_countmin_freq: QueryDef = QueryDef(
    """WITH h AS (SELECT user_id, i,
      |    CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS b
      |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS i)),
      |grid AS (SELECT i, b, count(*) AS c FROM h GROUP BY i, b),
      |users AS (SELECT DISTINCT user_id FROM events),
      |uh AS (SELECT user_id, i,
      |    CAST('0x' || substr(md5('cm' || CAST(i AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS b
      |  FROM users, (SELECT unnest([0, 1, 2, 3]) AS i)),
      |est AS (SELECT user_id, CAST(min(c) AS BIGINT) AS est FROM uh JOIN grid USING (i, b) GROUP BY user_id),
      |ex AS (SELECT user_id, count(*) AS exact FROM events GROUP BY user_id)
      |SELECT user_id, exact, est FROM ex JOIN est USING (user_id)
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val rows = array((0 to 3).map(lit): _*)
    def bucket = pmod(graft.functions.Md5PrefixLong(
      concat(lit("cm"), col("i").cast("string"), lit("|"),
        col("user_id").cast("string")), 15), lit(256L)).as("b")
    val ev = Tables.events(s, dir).select("user_id")
    val grid = ev.withColumn("i", explode(rows)).withColumn("b", bucket)
      .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
    val est = ev.distinct().withColumn("i", explode(rows)).withColumn("b", bucket)
      .join(grid, Seq("i", "b"))
      .groupBy(col("user_id")).agg(min("c").cast("long").as("est"))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      .join(est, Seq("user_id"))
      .orderBy(col("user_id"))
  }

  // -- overlapping-window chunking --------------------------------------------
  // Per-doc sliding-window chunker (context-window prep for training /
  // retrieval): fixed CHUNK-token windows at STRIDE steps, so adjacent
  // chunks overlap by CHUNK - STRIDE tokens. Chunks whose tokens are
  // entirely contained in the previous window (tail fragments of length
  // <= overlap) are dropped — except a document's FIRST chunk, which
  // always survives, so short docs chunk to themselves. Distinct from
  // H24 `q_pack_chunks` (cross-doc concat-and-chunk): this is the
  // per-doc overlapping shape retrieval pipelines index.
  // Scale: per-row bounded explode (<= n_tokens/STRIDE + 1 chunks/doc),
  // zero shuffle before the output ordering.
  private val ChunkTokens = 64
  private val ChunkStride = 48

  val q_chunk_overlap: QueryDef = QueryDef(
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |c AS (SELECT doc_id, CAST(s AS BIGINT) AS start_tok,
       |    CAST(LEAST($ChunkTokens, len(w) - s + 1) AS BIGINT) AS n_tok,
       |    array_to_string(list_transform(range(s, s + LEAST($ChunkTokens, len(w) - s + 1)), i -> w[i]), ' ') AS chunk_text
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1, $ChunkStride)) AS s FROM toks) x)
       |SELECT doc_id, start_tok, n_tok, chunk_text FROM c
       |WHERE start_tok = 1 OR n_tok > ${ChunkTokens - ChunkStride}
       |ORDER BY doc_id, start_tok""".stripMargin) { (s, dir) =>
    val toks = TextAnalysis.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")), lit(ChunkStride))).as("s"))
      .select(col("doc_id"), col("s").cast("long").as("start_tok"),
        least(lit(ChunkTokens), size(col("w")) - col("s") + 1).cast("long").as("n_tok"),
        concat_ws(" ", slice(col("w"), col("s"),
          least(lit(ChunkTokens), size(col("w")) - col("s") + 1))).as("chunk_text"))
      .filter(col("start_tok") === 1 || col("n_tok") > (ChunkTokens - ChunkStride))
      .orderBy(col("doc_id"), col("start_tok"))
  }

  // -- bigram language-model likelihood score ---------------------------------
  // Perplexity-style fluency filter (the KenLM role in public pipelines
  // like CCNet/RefinedWeb, expressed engine-natively): train bigram counts
  // on the corpus, score each document by its average conditional bigram
  // probability P(w2|w1) = C(w1 w2)/C(w1). The score is the integer
  // rational avg((n12 * 1e6) div n1) — ranking-equivalent to average
  // probability and bit-stable cross-engine, where a float log-prob would
  // hash-flip on one ulp of libm disagreement (the TF-IDF precedent).
  // Self-scoring (model trained on the scored corpus itself) keeps the
  // query closed over one table; production trains counts on a held-out
  // reference corpus — the plan is identical, the join inputs differ.
  // Scale shape: one bounded per-row explode (n_tokens-1 bigrams/doc),
  // two model aggregations (vocabulary²-bounded, far below corpus scale),
  // then scoring joins co-partitioned on (w1, w2) / (w1) — three
  // corpus-scale shuffles total, no window, no driver state. Docs with
  // <2 tokens have no bigrams and no row (both engines drop them).
  /** Per-doc bigram-LM score frame (doc_id, n_bigrams, lm_score),
    * materialized ONCE per (session, sfDir) — two declared queries score
    * from it (q_lm_score emits it; q_quality_mix buckets on it), and the
    * bigram explode + two model aggregations + scoring joins are the
    * family's whole cost. A production pipeline materializes its
    * perplexity-score table for the same reason the shingle table is
    * (Dedup.corpusShingles precedent).
    */
  private val lmScoreCache =
    new graft.SessionCache[String, org.apache.spark.sql.DataFrame]

  private[ext] def lmScores(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    lmScoreCache.getOrBuild(s, dir) { graft.Materialize.timed("lm_scores") {
      val big = Tables.documents(s, dir)
        .repartition(col("doc_id")) // spread the explode — see Dedup.wordShingleDocs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        // guard the sequence: size < 2 would make sequence(1, size-1) DESCEND
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      big.count() // eager barrier — see Dedup.lshJaccardPairs
      val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
      val out = big.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum((n12 * 1000000) div n1)").as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("s div n_bigrams").as("lm_score"))
        .localCheckpoint(true)
      big.unpersist()
      out
    }}

  val q_lm_score: QueryDef = QueryDef(
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |big AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks) x),
      |c12 AS (SELECT w1, w2, count(*) AS n12 FROM big GROUP BY 1, 2),
      |c1 AS (SELECT w1, count(*) AS n1 FROM big GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(CAST(sum(n12 * 1000000 // n1) AS BIGINT) // count(*) AS BIGINT) AS lm_score
      |FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    lmScores(s, dir).orderBy(col("doc_id"))
  }

  // -- span-level exact-substring dedup ---------------------------------------
  // Cross-doc repeated k-token spans — the exact-substring dedup signal
  // (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  // Better"): a span of SpanN consecutive tokens appearing in >= 2
  // distinct documents is memorization/boilerplate risk the doc-level
  // near-dup families can't see (two mostly-different docs sharing one
  // long quoted block). Per doc: total spans, occurrences of shared
  // spans, and distinct shared span kinds — the downstream filter
  // thresholds n_shared_occ / n_spans.
  //
  // Scale shape: spans explode once per token position (the inherent
  // cost of substring-level dedup), then EVERY join/agg is an equi on
  // the 60-bit span hash or doc_id — occurrence counts collapse to
  // distinct (doc, h) rows before the hash-level aggregation, the
  // >= 2-doc span set is joined hash-partitioned (never broadcast — at
  // 100 TB the shared-span set is corpus-scale), and per-doc span totals
  // come FREE from token counts (size(toks) - SpanN + 1), not a second
  // corpus aggregation. The shared `occ` frame is persisted: two
  // consumers (hash-level roll-up + the final doc join), one
  // explode+md5 pass (the expire-cascade persisted-intermediate
  // precedent).
  private val SpanN = 10

  val q_repeated_spans: QueryDef = QueryDef(
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sp AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= $SpanN
       |    THEN list_transform(range(1, len(w) - ${SpanN - 2}),
       |      i -> ${(0 until SpanN).map(o => if (o == 0) "w[i]" else s"w[i+$o]").mkString(" || ' ' || ")})
       |    ELSE CAST([] AS VARCHAR[]) END) AS s
       |  FROM toks) x),
       |occ AS (SELECT doc_id, h, count(*) AS cnt FROM sp GROUP BY doc_id, h),
       |byh AS (SELECT h, count(*) AS n_docs FROM occ GROUP BY h),
       |shared AS (SELECT occ.doc_id, CAST(sum(occ.cnt) AS BIGINT) AS n_shared_occ,
       |    count(*) AS n_shared_kinds
       |  FROM occ JOIN byh USING (h) WHERE byh.n_docs >= 2 GROUP BY occ.doc_id),
       |tot AS (SELECT doc_id,
       |    CASE WHEN len(w) >= $SpanN THEN len(w) - ${SpanN - 1} ELSE 0 END AS n_spans
       |  FROM toks)
       |SELECT t.doc_id, t.n_spans,
       |  COALESCE(s.n_shared_occ, 0) AS n_shared_occ,
       |  COALESCE(s.n_shared_kinds, 0) AS n_shared_kinds
       |FROM tot t LEFT JOIN shared s USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val toks = TextAnalysis.tokens(col("text"))
    val occ = Tables.documents(s, dir)
      .repartition(col("doc_id")) // spread the md5-heavy explode — see wordShingleDocs
      .select(col("doc_id"), explode(TextAnalysis.shingles(toks, SpanN)).as("sp"))
      .select(col("doc_id"), graft.functions.Md5PrefixLong(col("sp"), 15).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byh = occ.groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
    val shared = occ.join(byh.filter(col("n_docs") >= 2), "h")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_shared_occ"), count(lit(1)).as("n_shared_kinds"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        when(size(toks) >= SpanN, size(toks) - (SpanN - 1)).otherwise(0)
          .cast("long").as("n_spans"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_shared_occ"), lit(0L)).as("n_shared_occ"),
        coalesce(col("n_shared_kinds"), lit(0L)).as("n_shared_kinds"))
      .orderBy(col("doc_id"))
  }

  // -- PII redaction over planted synthetic PII ------------------------------
  // The corpus plants no PII (honest testdata), so the declared query
  // derives a deterministic PII-bearing frame from `events` columns —
  // one email + one IP + one phone per row, surrounded by the NEGATIVE
  // decoys the phone pattern must leave alone (a clock time, a date, a
  // dotted version, a bare long id) — then runs the production
  // chained-regexp_replace scrub with per-pattern audit counts. The
  // DuckDB oracle replays the identical patterns (generated from
  // [[TextAnalysis.PiiPatterns]], so the two engines CANNOT drift) with
  // RE2 'g' semantics; a pattern regression changes the redacted text or
  // a count and fails the hash gate. Scale shape: per-row projection,
  // zero shuffle.
  private def duckRedact(inner: String): String =
    TextAnalysis.PiiPatterns.foldLeft(inner) { case (acc, (re, mask)) =>
      s"regexp_replace($acc, '$re', '$mask', 'g')"
    }

  private val plantedSql: String =
    """planted AS (SELECT event_id,
      |  'user u' || CAST(user_id AS VARCHAR) || '@mail' || CAST(event_id % 7 AS VARCHAR) ||
      |  '.com phoned +41 22 ' || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') ||
      |  ' ' || lpad(CAST(user_id % 10000 AS VARCHAR), 4, '0') ||
      |  ' from 10.' || CAST(user_id % 256 AS VARCHAR) || '.0.' || CAST(event_id % 256 AS VARCHAR) ||
      |  ' at 10.30 on 2024-01-15 build 1.2.' || CAST(event_id % 90 AS VARCHAR) ||
      |  ' ticket ' || CAST(event_id AS VARCHAR) AS raw
      |  FROM events WHERE event_id < 2000)""".stripMargin

  val q_redact: QueryDef = QueryDef(
    s"""WITH $plantedSql
       |SELECT event_id, ${duckRedact("raw")} AS redacted,
       |  ${TextAnalysis.PiiPatterns.zipWithIndex.map { case ((re, _), i) =>
            s"CAST(len(regexp_extract_all(raw, '$re')) AS INT) AS n_${Seq("email", "ip", "phone")(i)}"
          }.mkString(",\n  ")}
       |FROM planted ORDER BY event_id""".stripMargin) { (s, dir) =>
    val str = (c: org.apache.spark.sql.Column) => c.cast("string")
    val planted = Tables.events(s, dir)
      .filter(col("event_id") < 2000)
      .select(col("event_id"), concat(
        lit("user u"), str(col("user_id")), lit("@mail"), str(col("event_id") % 7),
        lit(".com phoned +41 22 "), lpad(str(col("event_id") % 10000), 4, "0"),
        lit(" "), lpad(str(col("user_id") % 10000), 4, "0"),
        lit(" from 10."), str(col("user_id") % 256), lit(".0."), str(col("event_id") % 256),
        lit(" at 10.30 on 2024-01-15 build 1.2."), str(col("event_id") % 90),
        lit(" ticket "), str(col("event_id"))).as("raw"))
    val counts = TextAnalysis.PiiPatterns.zipWithIndex.map { case ((re, _), i) =>
      size(regexp_extract_all(col("raw"), lit(re), lit(0)))
        .as(s"n_${Seq("email", "ip", "phone")(i)}")
    }
    planted.select(
      Seq(col("event_id"), TextAnalysis.redact(col("raw")).as("redacted")) ++ counts: _*)
      .orderBy(col("event_id"))
  }

  // -- multimodal/binary plumbing: opaque bytes + typed metadata ------------
  val q_binary_meta: QueryDef = QueryDef(
    """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  md5(text) AS content_md5, sha256(text) AS content_sha256
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text")).as("content_md5"),
        sha2(col("text"), 256).as("content_sha256"))
      .orderBy(col("doc_id"))
  }

  // -- H66: persisted token-frame incremental maintenance --------------------
  // The VectorIndex lifecycle (q_ivf_incremental) applied to the text
  // family's materialized token frame: a 100 TB corpus tokenizes once
  // per generation into a versioned store table, and arrivals maintain
  // it by DOCUMENT-level delta — only the delta docs are tokenized, and
  // TableStore's doc_id-keyed upsert REPLACES every stored row of a
  // redelivered document (the base deliberately holds a TRUNCATED text
  // for the %10==1 docs, so their stale high-position token rows must
  // vanish — row-level upsert could not express that). The oracle sees
  // only the TRUE final corpus; the Spark side must reach the identical
  // frame through store maintenance (full-write stale base ⊕ doc delta),
  // proving the incremental path loses nothing. Per-doc digest: token
  // count, distinct terms, and a mod-p sum of the seeded 60-bit
  // term|pos hashes (mod keeps the sum inside BIGINT on both engines).
  val q_token_incremental: QueryDef = QueryDef(
    """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |t AS (SELECT doc_id, term, CAST(pos - 1 AS BIGINT) AS pos FROM t0
      |  WHERE term <> '')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST('0x' || substr(md5('7|' || term || '|' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT)
      |    % 1000000007) % 1000000007 AS BIGINT) AS h
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, substring(col("text"), 1, 20))
          .otherwise(col("text")))
    val delta = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_textidx_${java.util.UUID.randomUUID()}"
    graft.queries.CoreQueries.SinkCleanup.register(new java.io.File(root))
    graft.Materialize.queryBuild("q_token_incremental") {
      CorpusIndex.buildTokens(s, root, base) // v0: stale/partial corpus
      CorpusIndex.appendTokenDocs(s, root, delta) // v1: inserts %10==0, REPLACES %10==1
    }
    CorpusIndex.storedTokens(s, root)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("term")).as("n_terms"),
        (sum(TextAnalysis.hash60(
          concat_ws("|", col("term"), col("pos")), 7) % 1000000007L)
          % 1000000007L).as("h"))
      .orderBy(col("doc_id"))
  }

  // -- H66b: the shingle-frame twin of q_token_incremental -------------------
  // Same store-maintenance proof over the DEDUP family's persisted
  // frame: full-write a stale base (truncated %10==1 texts, %10==0 docs
  // absent), append the true docs as a document-level delta, and the
  // stored (doc_id, hs) frame must hash-equal the oracle's from-raw
  // shingle derivation — so the LSH/minhash consumers downstream of
  // corpusShingles lose nothing to incremental maintenance. Digest:
  // shingle-set size + mod-p sum of the 60-bit hashes per doc.
  val q_shingle_incremental: QueryDef = QueryDef(
    s"""WITH sh AS (${Dedup.wordShingleSql})
       |SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_sh,
       |  CAST(COALESCE(list_sum(list_transform(hs, h -> h % 1000000007)), 0)
       |    % 1000000007 AS BIGINT) AS h
       |FROM sh ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, substring(col("text"), 1, 20))
          .otherwise(col("text")))
    val delta = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_shingleidx_${java.util.UUID.randomUUID()}"
    graft.queries.CoreQueries.SinkCleanup.register(new java.io.File(root))
    graft.Materialize.queryBuild("q_shingle_incremental") {
      CorpusIndex.buildShingles(s, root, base)
      CorpusIndex.appendShingleDocs(s, root, delta)
    }
    CorpusIndex.storedShingles(s, root)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        (aggregate(transform(col("hs"), h => h % 1000000007L),
          lit(0L), (a, x) => a + x) % 1000000007L).as("h"))
      .orderBy(col("doc_id"))
  }

  // -- H66d: the maintained frame through PLAIN SQL ---------------------------
  // The serving path most users actually call: the persisted token frame
  // mounted as a Spark TableCatalog (self-describing manifest → DSv2
  // Group reader) and read with nothing but SQL + the registered native
  // functions — no graft DSL on the read side at all. The store is built
  // the hard way (stale base ⊕ doc-level delta, the q_token_incremental
  // shape) so the SQL read pointer-chases buckets across TWO versions;
  // the oracle re-derives from raw text, holding the entire stack —
  // manifest key/schema lines, bucket pointers, numeric Group decode,
  // catalog resolution — to hash equality.
  val q_frame_sql: QueryDef = QueryDef(
    """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |t AS (SELECT doc_id, term, CAST(pos - 1 AS BIGINT) AS pos FROM t0
      |  WHERE term <> '')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST('0x' || substr(md5('7|' || term || '|' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT)
      |    % 1000000007) % 1000000007 AS BIGINT) AS h
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, substring(col("text"), 1, 20))
          .otherwise(col("text")))
    val delta = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1)
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_sqlidx_$tag"
    graft.queries.CoreQueries.SinkCleanup.register(new java.io.File(root))
    graft.Materialize.queryBuild("q_frame_sql") {
      CorpusIndex.buildTokens(s, root, base) // v0: stale/partial
      CorpusIndex.appendTokenDocs(s, root, delta) // v1: insert + replace
    }
    // catalog names are cached by the session's CatalogManager at first
    // use, so each run mounts under a fresh name for its fresh root
    val cat = s"graftsql_$tag"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.StoreCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.path", CorpusIndex.tokensPath(root))
    s.sql(
      s"""SELECT doc_id, count(*) AS n_tok,
         |  count(DISTINCT term) AS n_terms,
         |  CAST(sum(graft_md5_prefix_long(
         |    concat('7|', term, '|', CAST(pos AS STRING)), 15) % 1000000007)
         |    % 1000000007 AS BIGINT) AS h
         |FROM $cat.tokens
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  // -- H66f: the growth path, end to end --------------------------------------
  // A corpus that outgrows its bucket modulus re-buckets with ONE full
  // rewrite (TableStore.rebucket) and then resumes incremental
  // maintenance at the new count — the lifecycle a store living through
  // 100× growth actually follows. Staged here in miniature: stale base
  // at 8 buckets → rebucket to 32 → the usual insert+replace delta at
  // the NEW modulus. The oracle sees only the true final corpus, so a
  // mis-hashed bucket (rows landing under the old modulus) or a lost
  // row in the rewrite breaks the gate. Digest as q_token_incremental.
  val q_token_rebucket: QueryDef = QueryDef(
    """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |t AS (SELECT doc_id, term, CAST(pos - 1 AS BIGINT) AS pos FROM t0
      |  WHERE term <> '')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST('0x' || substr(md5('7|' || term || '|' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT)
      |    % 1000000007) % 1000000007 AS BIGINT) AS h
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, substring(col("text"), 1, 20))
          .otherwise(col("text")))
    val delta = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_rebkidx_${java.util.UUID.randomUUID()}"
    graft.queries.CoreQueries.SinkCleanup.register(new java.io.File(root))
    val small = graft.streaming.StateStore.Config(buckets = 8)
    val grown = graft.streaming.StateStore.Config(buckets = 32)
    graft.Materialize.queryBuild("q_token_rebucket") {
      CorpusIndex.buildTokens(s, root, base, cfg = small) // v0: 8 buckets
      graft.streaming.TableStore.rebucket( // v1: the growth rewrite
        s, CorpusIndex.tokensPath(root), Seq(CorpusIndex.TokenSpec), grown)
      CorpusIndex.appendTokenDocs(s, root, delta, cfg = grown) // v2: delta resumes
    }
    CorpusIndex.storedTokens(s, root)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("term")).as("n_terms"),
        (sum(TextAnalysis.hash60(
          concat_ws("|", col("term"), col("pos")), 7) % 1000000007L)
          % 1000000007L).as("h"))
      .orderBy(col("doc_id"))
  }

  // -- H66g: audited compaction + version reclaim ------------------------------
  // The storage-reclaim lifecycle a long-lived store actually needs:
  // incremental maintenance (v0 stale base, v1 insert+replace delta)
  // leaves multi-file buckets across two live versions; one
  // TableStore.compact rewrites the head with ONE file per bucket,
  // proves content equality through the order-independent signature,
  // and prunes the old versions. The oracle sees the true final corpus
  // plus the audit invariants as literals — a compaction that loses a
  // row, leaves extra files, or fails to reclaim versions breaks the
  // gate.
  val q_store_compact: QueryDef = QueryDef(
    """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |t AS (SELECT doc_id, term, CAST(pos - 1 AS BIGINT) AS pos FROM t0
      |  WHERE term <> '')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST('0x' || substr(md5('7|' || term || '|' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT)
      |    % 1000000007) % 1000000007 AS BIGINT) AS h,
      |  CAST(1 AS BIGINT) AS n_versions,
      |  TRUE AS one_file_per_bucket,
      |  TRUE AS sig_ok
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, substring(col("text"), 1, 20))
          .otherwise(col("text")))
    val delta = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_cmpidx_${java.util.UUID.randomUUID()}"
    graft.queries.CoreQueries.SinkCleanup.register(new java.io.File(root))
    val cfg = graft.streaming.StateStore.Config(buckets = 8)
    val path = CorpusIndex.tokensPath(root)
    val report = graft.Materialize.queryBuild("q_store_compact") {
      CorpusIndex.buildTokens(s, root, base, cfg = cfg) // v0: stale/partial
      CorpusIndex.appendTokenDocs(s, root, delta, cfg = cfg) // v1: delta
      graft.streaming.TableStore.compact( // v2: one file/bucket, v0-v1 pruned
        s, path, Seq(CorpusIndex.TokenSpec), cfg).collect()
    }
    val r = report.head
    val nVersions = r.getAs[Long]("versions_after")
    val liveBuckets = graft.streaming.TableStore.describe(s, path)
      .filter(col("table") === CorpusIndex.TokenSpec.name)
      .agg(max(col("live_buckets"))).head().getInt(0).toLong
    val oneFilePerBucket = r.getAs[Long]("files_after") == liveBuckets
    CorpusIndex.storedTokens(s, root)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("term")).as("n_terms"),
        (sum(TextAnalysis.hash60(
          concat_ws("|", col("term"), col("pos")), 7) % 1000000007L)
          % 1000000007L).as("h"))
      .withColumn("n_versions", lit(nVersions))
      .withColumn("one_file_per_bucket", lit(oneFilePerBucket))
      .withColumn("sig_ok", lit(r.getAs[Boolean]("sig_ok")))
      .orderBy(col("doc_id"))
  }

  // -- H66e: the maintenance commit's audit diff ------------------------------
  // What did that commit actually change? TableStore.diff reads ONLY the
  // buckets whose pointers differ between the two versions and emits
  // row-level added/removed — the E10 store-diff contract generalized to
  // the derived frames. The oracle recomputes both frames from raw text
  // and takes the same multiset EXCEPT in SQL, so the bucket-pruned diff
  // must equal the global one (pointer equality on untouched buckets IS
  // the claim under test). Digest per (change, doc_id).
  val q_frame_diff: QueryDef = QueryDef(
    """WITH base_docs AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 10 = 1 THEN substr(text, 1, 20) ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 0),
      |b0 AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM base_docs),
      |bt AS (SELECT doc_id, source, term, CAST(pos - 1 AS BIGINT) AS pos
      |  FROM b0 WHERE term <> ''),
      |t0 AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |tt AS (SELECT doc_id, source, term, CAST(pos - 1 AS BIGINT) AS pos
      |  FROM t0 WHERE term <> ''),
      |ch AS (
      |  SELECT 'added' AS change, * FROM (SELECT * FROM tt EXCEPT ALL SELECT * FROM bt)
      |  UNION ALL
      |  SELECT 'removed' AS change, * FROM (SELECT * FROM bt EXCEPT ALL SELECT * FROM tt))
      |SELECT change, doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(sum(CAST('0x' || substr(md5('7|' || term || '|' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT)
      |    % 1000000007) % 1000000007 AS BIGINT) AS h
      |FROM ch GROUP BY change, doc_id ORDER BY change, doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, substring(col("text"), 1, 20))
          .otherwise(col("text")))
    val delta = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_diffidx_${java.util.UUID.randomUUID()}"
    graft.queries.CoreQueries.SinkCleanup.register(new java.io.File(root))
    graft.Materialize.queryBuild("q_frame_diff") {
      CorpusIndex.buildTokens(s, root, base) // v0: stale/partial
      CorpusIndex.appendTokenDocs(s, root, delta) // v1: the maintenance commit
    }
    graft.streaming.TableStore
      .diff(s, CorpusIndex.tokensPath(root), "tokens", 0L, 1L)
      .groupBy(col("change"), col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        (sum(TextAnalysis.hash60(
          concat_ws("|", col("term"), col("pos")), 7) % 1000000007L)
          % 1000000007L).as("h"))
      .orderBy(col("change"), col("doc_id"))
  }

  // -- H66c: document retraction without a full rewrite ----------------------
  // The maintenance commit a real corpus hits hardest: one version that
  // INSERTS new docs (%10==0, absent from the base), REPLACES stale ones
  // (%10==1, truncated in the base), and RETRACTS removed ones (the
  // phantom +1000000 docs — a takedown/GDPR erasure) through TableStore's
  // tombstone channel, all at O(delta × bucket) write I/O. The oracle
  // sees only the TRUE final corpus, so a single surviving phantom row
  // (failed delete) or lost replacement breaks the hash. Digest as
  // q_token_incremental.
  val q_token_retract: QueryDef = QueryDef(
    """WITH t0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |t AS (SELECT doc_id, term, CAST(pos - 1 AS BIGINT) AS pos FROM t0
      |  WHERE term <> '')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
      |  CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
      |  CAST(sum(CAST('0x' || substr(md5('7|' || term || '|' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT)
      |    % 1000000007) % 1000000007 AS BIGINT) AS h
      |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val phantoms = docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, substring(col("text"), 1, 20))
          .otherwise(col("text")))
      .unionByName(phantoms)
    val delta = docs.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 1)
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
      s"/graft_textidx_${java.util.UUID.randomUUID()}"
    graft.queries.CoreQueries.SinkCleanup.register(new java.io.File(root))
    graft.Materialize.queryBuild("q_token_retract") {
      CorpusIndex.buildTokens(s, root, base) // v0: stale + phantom docs
      CorpusIndex.appendTokenDocs(s, root, delta, // v1: one maintenance commit
        deleteDocIds = Some(phantoms.select(col("doc_id"))))
    }
    CorpusIndex.storedTokens(s, root)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        countDistinct(col("term")).as("n_terms"),
        (sum(TextAnalysis.hash60(
          concat_ws("|", col("term"), col("pos")), 7) % 1000000007L)
          % 1000000007L).as("h"))
      .orderBy(col("doc_id"))
  }

  val all: Map[String, QueryDef] = Map(
    "q_token_incremental" -> q_token_incremental,
    "q_shingle_incremental" -> q_shingle_incremental,
    "q_token_retract" -> q_token_retract,
    "q_frame_sql" -> q_frame_sql,
    "q_frame_diff" -> q_frame_diff,
    "q_token_rebucket" -> q_token_rebucket,
    "q_store_compact" -> q_store_compact,
    "q_dedup_exact" -> q_dedup_exact,
    "q_token_count" -> q_token_count,
    "q_quality_score" -> q_quality_score,
    "q_lang_id" -> q_lang_id,
    "q_doc_fingerprint" -> q_doc_fingerprint,
    "q_binary_meta" -> q_binary_meta,
    "q_tfidf_topterms" -> q_tfidf_topterms,
    "q_stratified_sample" -> q_stratified_sample,
    "q_decontaminate" -> q_decontaminate,
    "q_repetition_score" -> q_repetition_score,
    "q_pack_chunks" -> q_pack_chunks,
    "q_boilerplate_strip" -> q_boilerplate_strip,
    "q_source_overlap" -> q_source_overlap,
    "q_mix_epochs" -> q_mix_epochs,
    "q_epoch_shuffle" -> q_epoch_shuffle,
    "q_corpus_filter" -> q_corpus_filter,
    "q_repeated_spans" -> q_repeated_spans,
    "q_chunk_overlap" -> q_chunk_overlap,
    "q_lm_score" -> q_lm_score,
    "q_redact" -> q_redact,
    "q_sketch_stats" -> q_sketch_stats,
    "q_countmin_freq" -> q_countmin_freq,
    "q_bloom_semijoin" -> q_bloom_semijoin) ++
    Dedup.all ++ Similarity.all ++ Multimodal.all ++ Pq.all ++ IvfPq.all ++
    Gif.all ++ Flac.all ++ ImageDedup.all ++ Warc.all ++ Mp4.all ++ Tar.all ++
    Html.all ++ TextNorm.all ++ ZstdCodec.all ++ AvroCodec.all ++ AvroResolve.all ++
    Opq.all ++ Proto.all ++ ParquetLite.all ++ ParquetRead.all ++ OrcLite.all ++ OrcRead.all ++
    Zip.all ++ Npy.all ++ Safetensors.all ++ DeltaLog.all ++ GzipCodec.all ++ Iceberg.all ++
    Roaring.all ++ ParquetIndex.all
}
