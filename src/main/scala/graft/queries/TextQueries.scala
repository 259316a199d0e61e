package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Text
import graft.operators.Dedup

/** Text-analysis + dedup query surface over `documents` (BASELINE.json
  * north star: language-ID, quality scoring, token stats,
  * fingerprinting, near-dup detection).
  */
object TextQueries {

  def all: Seq[Q] = Seq(
    textStats, tokenTopK, langId, qualityScore, fingerprintDup,
    ngramJaccard, jaccardPruned, dedupClusters, minhashDedup,
    incrementalDedup, incrementalCc, incrementalCcFold, streamNearDup,
    streamCc, simhashPairs,
    tokenRegex, decontaminate, spanDecontaminate, repetition,
    packSequences, corpusSelect,
    spanDedup, corpusMix, tokenBudgetMix, chunkWindows, chunkPack,
    shardExport, freqTokens, trainingExport, bm25TopK, lmScore,
    dsirSelect, streamDsir, domainReweight, doremiMix)

  /** Targeted retrieval ([[graft.operators.Relevance.bm25]]): top-20
    * documents by Okapi BM25 against a fixed probe-term set — the
    * "find the subcorpus most like this" primitive of targeted data
    * selection. The oracle replays the whole pipeline (tokenize, tf
    * pruned to the probe terms, df, the exact idf/tf-norm arithmetic,
    * term-ordered float fold, round 9) so equality proves the scoring
    * to the bit, not just the ranking.
    */
  /** The BM25 scoring pipeline as DuckDB CTEs ending in `bscore`
    * (doc_id, score) — shared by q_bm25_topk and the hybrid-RRF
    * oracle so the two derivations cannot drift. The fixed probe-term
    * set is the catalog's retrieval query.
    */
  private[queries] val bm25CoreSql: String =
    """docs AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM docs),
      |g AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sdl FROM dl),
      |tok AS (SELECT doc_id, unnest(t) AS tok FROM docs),
      |tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
      |  WHERE tok IN ('spark', 'vector', 'merge', 'stream')
      |  GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |terms AS (
      |  SELECT tf.doc_id, tf.tok,
      |    ln(((g.n - df.df) + 0.5) / (df.df + 0.5) + 1.0)
      |      * (tf.tf * (1.2 + 1.0))
      |      / (tf.tf + 1.2 * ((1.0 - 0.75)
      |          + (0.75 * dl.dl) / (CAST(g.sdl AS DOUBLE) / g.n))) AS term
      |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN g),
      |bscore AS (
      |  SELECT doc_id,
      |    round(list_reduce(list(term ORDER BY tok), (a, b) -> a + b), 9) AS score
      |  FROM terms
      |  GROUP BY doc_id)""".stripMargin

  /** The catalog's probe-term set (the Spark side of [[bm25CoreSql]]'s
    * `IN` list).
    */
  private[queries] val Bm25ProbeTerms = Seq("spark", "vector", "merge", "stream")

  val bm25TopK: Q = Q(
    "q_bm25_topk",
    s"""WITH $bm25CoreSql
       |SELECT doc_id, score FROM bscore
       |ORDER BY score DESC, doc_id
       |LIMIT 20""".stripMargin) { (s, dir) =>
    import graft.operators.Relevance
    Relevance.bm25(Tables.documents(s, dir), "doc_id", "text", Bm25ProbeTerms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** LM-perplexity quality filter
    * ([[graft.operators.Relevance.bigramNll]]): every document scored
    * by its average negative log-likelihood under an add-1 bigram
    * model trained on the corpus itself. The oracle re-trains the
    * same model in SQL (unigram/bigram counts, vocabulary size,
    * position-ordered fold of ln p, round 9) — equality proves the
    * whole perplexity computation, smoothing included.
    */
  val lmScore: Q = Q(
    "q_lm_score",
    """WITH docs AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS w1 FROM docs),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM tok GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w1) AS v FROM tok),
      |bg AS (
      |  SELECT doc_id, i AS pos, t[i] AS w1, t[i + 1] AS w2
      |  FROM docs, unnest(range(1, len(t))) AS r(i)
      |  WHERE len(t) >= 2),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
      |terms AS (
      |  SELECT bg.doc_id, bg.pos,
      |    ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v)) AS lp
      |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  round((-list_reduce(list(lp ORDER BY pos), (a, b) -> a + b))
      |    / COUNT(*), 9) AS nll
      |FROM terms
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.Relevance
    Relevance.bigramNll(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** DSIR importance-weighted data selection
    * ([[graft.operators.Dsir]] — Xie et al., NeurIPS 2023): every
    * document scored by the log-ratio of its hashed-bigram likelihood
    * under the TARGET distribution (here: the `lang = 'en'` slice)
    * vs the raw-corpus SOURCE distribution, top-200 kept
    * (deterministic rank replacing the paper's Gumbel resampling).
    * The oracle re-derives the whole estimator in SQL — tokenize,
    * md5-h60 bigram bucketing, both add-1-smoothed distributions,
    * the position-ordered ln-ratio fold, round 9, the rank cut — so
    * equality proves the importance weights to the bit, smoothing and
    * hash included.
    */
  val dsirSelect: Q = Q(
    "q_dsir_select",
    """WITH docs AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, lang, i AS pos,
      |    CAST(('0x' || substring(md5(t[i] || ' ' || t[i + 1]), 1, 15))
      |      AS BIGINT) % 64 AS b
      |  FROM docs, unnest(range(1, len(t))) AS r(i)
      |  WHERE len(t) >= 2),
      |stats AS (
      |  SELECT b, COUNT(*) AS cs,
      |    COUNT(*) FILTER (WHERE lang = 'en') AS ct
      |  FROM bg GROUP BY 1),
      |tot AS (SELECT SUM(cs) AS stot, SUM(ct) AS ttot FROM stats),
      |terms AS (
      |  SELECT bg.doc_id, bg.pos,
      |    ln((stats.ct + 1.0) / (tot.ttot + 64.0))
      |      - ln((stats.cs + 1.0) / (tot.stot + 64.0)) AS lw
      |  FROM bg JOIN stats USING (b) CROSS JOIN tot),
      |w AS (
      |  SELECT doc_id, COUNT(*) AS n_feats,
      |    round(list_reduce(list(lw ORDER BY pos), (a, b) -> a + b), 9)
      |      AS weight
      |  FROM terms GROUP BY doc_id)
      |SELECT doc_id, n_feats, weight FROM w
      |ORDER BY weight DESC, doc_id
      |LIMIT 200""".stripMargin) { (s, dir) =>
    import graft.operators.Dsir
    Dsir.select(Tables.documents(s, dir), "doc_id", "text",
      isTarget = col("lang") === "en", k = 200)
  }

  /** CONTINUOUS DSIR scoring
    * ([[graft.streaming.Streams.dsirStream]]): the documents table
    * replayed as a 5-micro-batch stream (doc_id mod 5, one file per
    * trigger), each batch scored against the FROZEN hashed-bigram
    * model of the last refresh point, the model rebuilt at the
    * 3-batch cadence — so batches 0–2 score against the model trained
    * on batch 0's corpus and batches 3–4 against the model trained on
    * batches 0–3. FULL oracle gate: refresh points are a pure
    * function of the batch id and the feed slicing is `doc_id % 5`
    * (file→batch order pinned by explicit mod-times), so DuckDB
    * re-derives BOTH frozen models from the same slices and replays
    * every score — unseen-bucket smoothing, the position-ordered
    * ln-ratio fold, round-9, and the fold→model-version mapping —
    * bit-for-bit. Crash/restart equivalence is StreamSpec's.
    */
  val streamDsir: Q = Q(
    "q_stream_dsir",
    """WITH docs AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS t,
      |    doc_id % 5 AS fold
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, fold, lang, i AS pos,
      |    CAST(('0x' || substring(md5(t[i] || ' ' || t[i + 1]), 1, 15))
      |      AS BIGINT) % 64 AS b
      |  FROM docs, unnest(range(1, len(t))) AS r(i)
      |  WHERE len(t) >= 2),
      |m0 AS (
      |  SELECT b, COUNT(*) AS cs,
      |    COUNT(*) FILTER (WHERE lang = 'en') AS ct
      |  FROM bg WHERE fold = 0 GROUP BY 1),
      |t0 AS (SELECT SUM(cs) AS stot, SUM(ct) AS ttot FROM m0),
      |m3 AS (
      |  SELECT b, COUNT(*) AS cs,
      |    COUNT(*) FILTER (WHERE lang = 'en') AS ct
      |  FROM bg WHERE fold <= 3 GROUP BY 1),
      |t3 AS (SELECT SUM(cs) AS stot, SUM(ct) AS ttot FROM m3),
      |terms AS (
      |  SELECT bg.doc_id, bg.fold, bg.pos,
      |    CASE WHEN bg.fold <= 2
      |      THEN ln((COALESCE(m0.ct, 0) + 1.0) / (t0.ttot + 64.0))
      |         - ln((COALESCE(m0.cs, 0) + 1.0) / (t0.stot + 64.0))
      |      ELSE ln((COALESCE(m3.ct, 0) + 1.0) / (t3.ttot + 64.0))
      |         - ln((COALESCE(m3.cs, 0) + 1.0) / (t3.stot + 64.0))
      |    END AS lw
      |  FROM bg
      |  LEFT JOIN m0 ON m0.b = bg.b
      |  LEFT JOIN m3 ON m3.b = bg.b
      |  CROSS JOIN t0 CROSS JOIN t3)
      |SELECT doc_id, COUNT(*) AS n_feats,
      |  round(list_reduce(list(lw ORDER BY pos), (a, b) -> a + b), 9)
      |    AS weight,
      |  CAST(CASE WHEN fold <= 2 THEN 0 ELSE 3 END AS BIGINT) AS model_v,
      |  fold
      |FROM terms
      |GROUP BY doc_id, fold
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val srcDir = Fixtures.path("stream_dsir_src", dir)
    // 5-file replay source (doc_id mod 5), built once per (JVM, dir);
    // explicit per-slice mod-times pin the file->batch order to the
    // slice order (the frozen-model composition depends on WHICH
    // documents precede a refresh, unlike q_stream_cc's
    // order-invariant labeling)
    Fixtures.once(srcDir) {
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("text"), (col("lang") === "en").as("tgt"))
      val fs = new org.apache.hadoop.fs.Path(srcDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      (0 until 5).foreach { r =>
        docs.filter(pmod(col("doc_id"), lit(5L)) === r).coalesce(1)
          .write.mode("overwrite").parquet(s"$srcDir/f=$r")
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$srcDir/f=$r"))
          .filter(_.isFile)
          .foreach(f =>
            fs.setTimes(f.getPath, 1600000000000L + r * 60000L, -1))
      }
    }
    graft.streaming.Streams.dsirStream(
        graft.streaming.Streams.fileFeed(s, srcDir), "doc_id", "text", "tgt",
        Fixtures.fresh("stream_dsir_state"), Fixtures.fresh("stream_dsir_ckpt"),
        refreshEvery = 3)
      .orderBy(col("doc_id"))
  }

  /** The DoReMi multiplicative-weights rounds as DuckDB CTEs: d0 is
    * the uniform start, each round t computes w (exponentiated
    * excess), an ORDERED normalizer fold, and the smoothed alpha —
    * the exact literal/association shape of
    * [[graft.operators.Doremi.reweight]]'s driver loop, so both
    * engines compute identical doubles.
    */
  private def doremiIterSql(iters: Int): String =
    (1 to iters).map { t =>
      s"""i$t AS (SELECT lang, ex, a * exp(0.1 * ex) AS w FROM d${t - 1}),
         |n$t AS (
         |  SELECT list_reduce(list(w ORDER BY lang), (x, y) -> x + y) AS s
         |  FROM i$t),
         |d$t AS (
         |  SELECT lang, ex, (1.0 - 0.2) * w / n$t.s + 0.2 / dc.d AS a
         |  FROM i$t CROSS JOIN n$t CROSS JOIN dc)""".stripMargin
    }.mkString(",\n")

  /** DoReMi-style domain reweighting ([[graft.operators.Doremi]] —
    * Xie et al., NeurIPS 2023): per-domain mixture weights learned by
    * 5 multiplicative-weights rounds on the domain's excess loss
    * (here the data-only analogue: KL of the domain's hashed-token
    * distribution from the corpus distribution). The oracle re-derives
    * EVERYTHING in SQL — tokenize, md5-h60 bucketing, the full
    * 64-bucket smoothed KL grid with ordered folds, and all 5 unrolled
    * update rounds with ordered normalizers — so equality proves the
    * learned weights to the bit, smoothing and iteration path
    * included.
    */
  /** The whole DoReMi derivation (stats grid → excess → 5 update
    * rounds) as DuckDB CTEs ending in `d5 (lang, ex, a)` — shared by
    * q_domain_reweight and the q_doremi_mix capstone so the two
    * derivations cannot drift.
    */
  private[queries] lazy val doremiCoreSql: String =
    s"""docs AS (
       |  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |tok AS (SELECT lang, unnest(t) AS w FROM docs),
       |bk AS (
       |  SELECT lang,
       |    CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 64 AS b
       |  FROM tok),
       |cd AS (SELECT lang, b, COUNT(*) AS c FROM bk GROUP BY 1, 2),
       |nd AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cd GROUP BY 1),
       |cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM cd GROUP BY 1),
       |g AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cd),
       |dc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS d FROM nd),
       |bks AS (SELECT unnest(range(0, 64)) AS b),
       |grid AS (SELECT nd.lang, nd.n, bks.b FROM nd CROSS JOIN bks),
       |terms AS (
       |  SELECT gr.lang, gr.b,
       |    ((COALESCE(cd.c, 0) + 1.0) / (gr.n + 64.0))
       |      * (ln((COALESCE(cd.c, 0) + 1.0) / (gr.n + 64.0))
       |         - ln((COALESCE(cb.cb, 0) + 1.0) / (g.n + 64.0))) AS kl
       |  FROM grid gr
       |  LEFT JOIN cd ON cd.lang = gr.lang AND cd.b = gr.b
       |  LEFT JOIN cb ON cb.b = gr.b
       |  CROSS JOIN g),
       |ex AS (
       |  SELECT lang, list_reduce(list(kl ORDER BY b), (a, b) -> a + b) AS ex
       |  FROM terms GROUP BY lang),
       |d0 AS (SELECT lang, ex, 1.0 / dc.d AS a FROM ex CROSS JOIN dc),
       |${doremiIterSql(5)}""".stripMargin

  val domainReweight: Q = Q(
    "q_domain_reweight",
    s"""WITH $doremiCoreSql
       |SELECT d5.lang AS domain, nd.n AS n_toks,
       |  round(d5.ex, 9) AS excess, round(d5.a, 9) AS weight
       |FROM d5 JOIN nd USING (lang)
       |ORDER BY domain""".stripMargin) { (s, dir) =>
    graft.operators.Doremi.reweight(
      Tables.documents(s, dir), "lang", "text")
  }

  /** Selection-suite capstone: mixture resampling
    * ([[graft.operators.Mix.sample]]) driven by the LEARNED DoReMi
    * weights instead of a hand-fixed mix — the composition a training
    * pipeline actually runs (learn the domain mixture, then cut the
    * corpus to it). The oracle re-derives the whole chain in ONE
    * statement — the full DoReMi derivation (shared CTEs), the
    * round-9 weights, the per-domain quota LEAST(count, round(w·300)),
    * and the md5-rank cut — so equality proves the two operators
    * compose deterministically, not just pass alone (the
    * q_training_export device, with learned weights replacing
    * literals).
    */
  val doremiMix: Q = Q(
    "q_doremi_mix",
    s"""WITH $doremiCoreSql,
       |wts AS (SELECT lang, round(a, 9) AS wt FROM d5),
       |cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
       |k AS (
       |  SELECT c.lang, LEAST(c.n, CAST(round(w.wt * 300) AS BIGINT)) AS k
       |  FROM cnt c JOIN wts w USING (lang)),
       |r AS (
       |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents)
       |SELECT r.doc_id, r.lang FROM r JOIN k USING (lang)
       |WHERE r.rn <= k.k
       |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
    val learned = graft.operators.Doremi
      .reweight(Tables.documents(s, dir), "lang", "text")
      .select(col("domain"), col("weight")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    graft.operators.Mix.sample(
        Tables.documents(s, dir), col("lang"), col("doc_id"),
        weights = learned, budget = 300L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Export-pipeline capstone (the q_corpus_select of the output
    * side): mixture resampling ([[graft.operators.Mix]]) COMPOSED with
    * shard assignment ([[graft.operators.Shard]]) in one query — the
    * corpus that would actually ship to a trainer. The oracle
    * re-derives both stages in a single statement (window-rank
    * mixture, then md5 shard of the survivors), so equality proves
    * the operators compose deterministically, not just pass alone.
    */
  val trainingExport: Q = Q(
    "q_training_export",
    """WITH w(lang, wt) AS (VALUES ('en', 0.5), ('zh', 0.2), ('es', 0.15),
      |    ('de', 0.1), ('fr', 0.05)),
      |  k AS (
      |    SELECT d.lang, LEAST(COUNT(*), CAST(round(w.wt * 300) AS BIGINT)) AS k
      |    FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang, w.wt),
      |  r AS (
      |    SELECT lang, doc_id, n_chars, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |    FROM documents),
      |  mixed AS (
      |    SELECT r.lang, r.doc_id, r.n_chars FROM r JOIN k ON r.lang = k.lang
      |    WHERE r.rn <= k.k)
      |SELECT
      |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4
      |    AS shard,
      |  COUNT(*) AS n_rows,
      |  COUNT(DISTINCT lang) AS n_langs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM mixed
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.operators.{Mix, Shard}
    val mixed = Mix.sample(
      Tables.documents(s, dir), col("lang"), col("doc_id"),
      weights = Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.15,
        "de" -> 0.1, "fr" -> 0.05),
      budget = 300L)
    mixed
      .withColumn("shard", Shard.assign(col("doc_id"), 4))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("chars"))
      .orderBy(col("shard"))
  }

  /** Heavy hitters via the frequent-items sketch
    * ([[graft.functions.FreqItemsAgg]]): token frequencies in ONE
    * bounded-state pass — no full-dictionary shuffle. At gate
    * vocabulary (< 0.75·maxMapSize) the sketch never purges and
    * estimates are exact, so the oracle is the plain token count;
    * the purge-regime bounds are FreqSpec's.
    */
  val freqTokens: Q = Q(
    "q_freq_tokens",
    """SELECT tok AS token, COUNT(*) AS cnt FROM (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |WHERE tok <> ''
      |GROUP BY 1
      |ORDER BY cnt DESC, token""".stripMargin) { (s, dir) =>
    import graft.functions.FreqItemsAgg
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(FreqItemsAgg(col("tok"), 1024).as("fi"))
      .select(explode(col("fi")).as("f"))
      .select(col("f.item").as("token"), col("f.estimate").as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Deterministic shard export ([[graft.operators.Shard]]): the
    * corpus physically lands as 8 hash-assigned shard directories and
    * the query aggregates what was WRITTEN (read back from the output
    * files, not the plan). The oracle recomputes shard membership from
    * the same md5 device over the raw table, so equality proves the
    * export is a faithful, reproducible global shuffle — nothing
    * dropped, duplicated, or RNG-placed.
    */
  val shardExport: Q = Q(
    "q_shard_export",
    """SELECT CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8
      |    AS shard,
      |  COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.operators.Shard
    val root = Fixtures.path("shardq", dir)
    Shard.export(Tables.documents(s, dir), root, col("doc_id"), 8)
    s.read.parquet(root)
      .groupBy(col("__shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("chars"))
      .orderBy(col("shard"))
  }

  /** Domain-weighted mixing ([[graft.operators.Mix]]): resample the
    * corpus to a target language mixture (50/20/15/10/5) under a
    * 300-row budget. Hash-rank selection makes the chosen rows
    * engine-independent, so the oracle re-derives the exact sample:
    * same per-domain k = min(n, round(w·budget)), same md5 ordering.
    */
  val corpusMix: Q = Q(
    "q_corpus_mix",
    """WITH w(lang, wt) AS (VALUES ('en', 0.5), ('zh', 0.2), ('es', 0.15),
      |    ('de', 0.1), ('fr', 0.05)),
      |  k AS (
      |    SELECT d.lang, LEAST(COUNT(*), CAST(round(w.wt * 300) AS BIGINT)) AS k
      |    FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang, w.wt),
      |  r AS (
      |    SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |    FROM documents)
      |SELECT r.lang, r.doc_id FROM r JOIN k ON r.lang = k.lang
      |WHERE r.rn <= k.k
      |ORDER BY r.lang, r.doc_id""".stripMargin) { (s, dir) =>
    graft.operators.Mix.sample(
        Tables.documents(s, dir), col("lang"), col("doc_id"),
        weights = Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.15,
          "de" -> 0.1, "fr" -> 0.05),
        budget = 300L)
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** TOKEN-budget corpus mix ([[graft.operators.Mix.tokenBudget]]):
    * greedy hash-rank fill of per-language TOKEN budgets (the unit
    * training mixes are specified in, vs q_corpus_mix's row counts).
    * A document is kept while its language's budget is not exhausted
    * before it (exclusive running sum < budget), so the crossing
    * document is included. FULL oracle gate — the md5 rank order, the
    * whitespace token count, and the exclusive window sum all replay
    * exactly in DuckDB.
    */
  val tokenBudgetMix: Q = Q(
    "q_token_budget_mix",
    """WITH w(lang, wt) AS (VALUES ('en', 0.5), ('zh', 0.2), ('es', 0.15),
      |    ('de', 0.1), ('fr', 0.05)),
      |  b AS (SELECT lang, CAST(round(wt * 100000) AS BIGINT) AS tb FROM w),
      |  t AS (SELECT doc_id, lang,
      |      CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |        x -> x <> '')) AS BIGINT) AS n_tok
      |    FROM documents),
      |  r AS (SELECT t.doc_id, t.lang, t.n_tok, b.tb,
      |      COALESCE(SUM(n_tok) OVER (PARTITION BY t.lang
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |    FROM t JOIN b ON t.lang = b.lang WHERE n_tok > 0)
      |SELECT doc_id, lang, n_tok FROM r WHERE cum < tb
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.functions.Text
    val docs = Tables.documents(s, dir)
      .withColumn("n_tok", size(Text.tokens(col("text"))).cast("long"))
    graft.operators.Mix.tokenBudget(
        docs, col("lang"), col("doc_id"), col("n_tok"),
        weights = Map("en" -> 0.5, "zh" -> 0.2, "es" -> 0.15,
          "de" -> 0.1, "fr" -> 0.05),
        totalTokens = 100000L)
      .select(col("doc_id"), col("lang"), col("n_tok"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking ([[graft.operators.Pack.chunkWindows]]):
    * 32-token windows advancing by 24 (8-token overlap; sized so the
    * 10–99-token test documents genuinely produce multi-chunk
    * overlapping output), short tail
    * kept unless fully covered by its predecessor. FULL oracle gate —
    * the start-position rule, integer window ordinal, clamped slice,
    * and single-space re-join replay exactly in DuckDB.
    */
  val chunkWindows: Q = Q(
    "q_chunk_windows",
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |s AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 24),
      |    s -> s = 0 OR s - 24 + 32 < len(t))) AS s
      |  FROM t WHERE len(t) > 0)
      |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_id,
      |  CAST(least(32, len(t) - s) AS BIGINT) AS n_tok,
      |  array_to_string(t[s+1:s+32], ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    graft.operators.Pack.chunkWindows(
        Tables.documents(s, dir), "doc_id", "text",
        window = 32, overlap = 8)
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Chunk→pack composition — the training-sequence tail in one
    * query: context-window chunking ([[graft.operators.Pack.chunkWindows]])
    * feeding greedy sequence packing ([[graft.operators.Pack.pack]]),
    * aggregated per (shard, pack). Proves the two stages compose
    * deterministically: the oracle replays chunking, the numeric
    * chunk key, the sharded running-sum pack assignment, and the
    * rollup in a single statement.
    */
  val chunkPack: Q = Q(
    "q_chunk_pack",
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |s AS (SELECT doc_id, t, unnest(list_filter(range(0, len(t), 24),
      |    s -> s = 0 OR s - 24 + 32 < len(t))) AS s
      |  FROM t WHERE len(t) > 0),
      |c AS (SELECT doc_id * 1000 + (s // 24) AS chunk_key,
      |    CAST(least(32, len(t) - s) AS BIGINT) AS n_tok
      |  FROM s),
      |p AS (SELECT chunk_key, n_tok, chunk_key % 8 AS shard,
      |    SUM(n_tok) OVER (PARTITION BY chunk_key % 8 ORDER BY chunk_key
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM c)
      |SELECT shard, CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS pack_id,
      |  COUNT(*) AS n_chunks, CAST(SUM(n_tok) AS BIGINT) AS tokens
      |FROM p
      |GROUP BY 1, 2
      |ORDER BY shard, pack_id""".stripMargin) { (s, dir) =>
    import graft.operators.Pack
    val chunks = Pack.chunkWindows(
        Tables.documents(s, dir), "doc_id", "text",
        window = 32, overlap = 8)
      // stable numeric chunk key: chunk ordinal is < 1000 by the
      // window/stride geometry at any document length the corpus has;
      // pack() shards and orders by this key
      .select((col("doc_id") * 1000 + col("chunk_id")).as("chunk_key"),
        col("n_tok"))
    Pack.pack(chunks, "chunk_key", col("n_tok"),
        budget = 2048L, numShards = 8)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("tokens"))
      .orderBy(col("shard"), col("pack_id"))
  }

  /** Exact substring-span dedup (Lee et al. 2022 shape): repeated
    * word-8-gram occurrences — all but the corpus-wide first — have
    * their covering words deleted and documents are reassembled from
    * the survivors. The oracle replays the identical first-occurrence
    * + position-cover rule from first principles (window row_number
    * instead of the operator's min-struct groupBy), so equality
    * proves the distributed join plan computes the paper semantics.
    */
  val spanDedup: Q = Q(
    "q_span_dedup",
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents WHERE text IS NOT NULL),
      |words AS (
      |  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w FROM docs),
      |nw AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
      |grams AS (
      |  SELECT doc_id, i AS pos, array_to_string(arr[i : i + 7], ' ') AS g
      |  FROM docs, unnest(range(1, greatest(len(arr) - 6, 1))) AS t(i)),
      |dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |    FROM grams) WHERE rn > 1),
      |rm AS (SELECT DISTINCT doc_id, pos + o AS rmpos
      |  FROM dup, unnest(range(0, 8)) AS t(o)),
      |kept AS (
      |  SELECT w.doc_id, w.pos, w.w FROM words w
      |  LEFT JOIN rm ON w.doc_id = rm.doc_id AND w.pos = rm.rmpos
      |  WHERE rm.doc_id IS NULL),
      |agg AS (
      |  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_clean,
      |    count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
      |  coalesce(a.n_kept, 0) AS n_kept,
      |  nw.nw - coalesce(a.n_kept, 0) AS n_removed
      |FROM documents d JOIN nw ON d.doc_id = nw.doc_id
      |LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    Dedup.spanDedup(Tables.documents(s, dir), "doc_id", "text", 8)
      .orderBy(col("doc_id"))
  }

  /** SPAN-LEVEL cross-corpus decontamination
    * ([[graft.operators.Dedup.spanScrub]] — the n-gram scrub of LLM
    * data pipelines): every corpus (doc_id % 20 ≠ 0) word-8-gram that
    * appears anywhere in the benchmark slice (doc_id % 20 = 0) has
    * its covering words deleted; documents are reassembled from the
    * survivors. The doc-level q_decontaminate flags; this removes.
    * The oracle replays gram extraction, the benchmark gram set, the
    * position-cover rule, and the ordered reassembly from first
    * principles.
    */
  val spanDecontaminate: Q = Q(
    "q_span_decontaminate",
    """WITH bdocs AS (SELECT string_split(text, ' ') AS arr
      |  FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL),
      |bgrams AS (SELECT DISTINCT array_to_string(arr[i : i + 7], ' ') AS g
      |  FROM bdocs, unnest(range(1, greatest(len(arr) - 6, 1))) AS t(i)),
      |docs AS (SELECT doc_id, string_split(text, ' ') AS arr
      |  FROM documents WHERE doc_id % 20 <> 0 AND text IS NOT NULL),
      |words AS (
      |  SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w FROM docs),
      |nw AS (SELECT doc_id, count(*) AS nw FROM words GROUP BY doc_id),
      |grams AS (
      |  SELECT doc_id, i AS pos, array_to_string(arr[i : i + 7], ' ') AS g
      |  FROM docs, unnest(range(1, greatest(len(arr) - 6, 1))) AS t(i)),
      |hits AS (SELECT DISTINCT doc_id, pos FROM grams JOIN bgrams USING (g)),
      |rm AS (SELECT DISTINCT doc_id, pos + o AS rmpos
      |  FROM hits, unnest(range(0, 8)) AS t(o)),
      |kept AS (
      |  SELECT w.doc_id, w.pos, w.w FROM words w
      |  LEFT JOIN rm ON w.doc_id = rm.doc_id AND w.pos = rm.rmpos
      |  WHERE rm.doc_id IS NULL),
      |agg AS (
      |  SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text_clean,
      |    count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
      |  coalesce(a.n_kept, 0) AS n_kept,
      |  nw.nw - coalesce(a.n_kept, 0) AS n_removed
      |FROM documents d JOIN nw ON d.doc_id = nw.doc_id
      |LEFT JOIN agg a ON d.doc_id = a.doc_id
      |WHERE d.doc_id % 20 <> 0
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.spanScrub(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", 8)
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (training-batch prep): greedy sequential
    * token-budget packing in id order, sharded 8 ways — pack id =
    * ⌊prior running token total / budget⌋ within the shard. The
    * oracle replays the identical window arithmetic; output is pack
    * occupancy (the training-side contract: how full the sequences
    * run).
    */
  val packSequences: Q = Q(
    "q_pack_sequences",
    """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x <> '')) AS BIGINT) AS toks
      |  FROM documents),
      |c AS (SELECT doc_id, shard, toks,
      |    SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT shard, CAST(FLOOR((cum - toks) / 512.0) AS BIGINT) AS pack_id,
      |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS total_tokens
      |FROM c
      |GROUP BY shard, pack_id
      |ORDER BY shard, pack_id""".stripMargin) { (s, dir) =>
    import graft.operators.Pack
    val packed = Pack.pack(
      Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", size(Text.tokens(col("text"))), budget = 512L, numShards = 8)
    packed.groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens(col("text"))).cast("long")).as("total_tokens"))
      .orderBy(col("shard"), col("pack_id"))
  }

  /** CAPSTONE composition — the full training-corpus selection
    * pipeline in ONE query: keep a document iff it is (a) the
    * canonical representative of its near-dup cluster, (b) tagged
    * English, (c) at or above medium quality, and (d) not
    * contaminated against the benchmark slice. Each leg reuses an
    * already-oracle-gated operator (duplicateClusters,
    * q_quality_score's formula, jaccardAgainstPairs); the oracle
    * re-derives all four from first principles in one SQL statement —
    * equality proves the operators COMPOSE, not just pass alone.
    */
  lazy val corpusSelect: Q = Q( // lazy: reads enStops, declared below
    "q_corpus_select",
    s"""WITH RECURSIVE toks AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |shl AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(t) >= 3
       |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
       |      ELSE [] END) AS s
       |  FROM toks),
       |sh AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shl),
       |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.n AS n1, b.n AS n2,
       |    COUNT(*) AS i
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |edges AS (SELECT d1, d2 FROM inter
       |  WHERE CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) >= 0.8),
       |sym AS (SELECT d1 AS src, d2 AS dst FROM edges
       |  UNION ALL SELECT d2, d1 FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src),
       |canon AS (SELECT src AS doc_id FROM reach GROUP BY src
       |  HAVING MIN(dst) = src),
       |contaminated AS (SELECT DISTINCT tr.doc_id
       |  FROM sh tr JOIN sh be ON tr.g = be.g
       |    AND tr.doc_id % 20 <> 0 AND be.doc_id % 20 = 0
       |  GROUP BY tr.doc_id, be.doc_id, tr.n, be.n
       |  HAVING CAST(COUNT(*) AS DOUBLE)
       |    / CAST(tr.n + be.n - COUNT(*) AS DOUBLE) >= 0.8),
       |q AS (SELECT t.doc_id,
       |    CAST(len(t.t) AS BIGINT) AS n_tokens,
       |    (CAST(least(len(t.t), 200) AS DOUBLE)/200.0)*0.5 +
       |    (CAST(len(list_intersect(list_distinct(t.t), ${sqlList(enStops)})) AS DOUBLE)
       |      / CAST(len(t.t) AS DOUBLE))*0.5 AS quality
       |  FROM toks t)
       |SELECT d.doc_id, q.n_tokens, q.quality
       |FROM documents d
       |JOIN canon USING (doc_id)
       |JOIN q ON d.doc_id = q.doc_id
       |WHERE d.lang = 'en' AND d.doc_id % 20 <> 0
       |  AND q.quality >= 0.15
       |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    // all four legs derive from the same narrow projection — persist
    // it ONCE so the documents parquet is scanned a single time and
    // the dedup/quality/decontamination legs read cached blocks
    // (PlanSpec pins that no leg scans the parquet directly)
    import graft.CacheScope.TrackedDataFrame
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang")).persistTracked()
    val canonical = Dedup.duplicateClusters(docs, "doc_id", "text", 3, 0.8)
      .filter(col("is_canonical")).select(col("doc_id"))
    val contaminated = Dedup.jaccardAgainstPairs(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 3, tau = 0.8)
      .select(col("d1").as("doc_id")).distinct()
    val toks = Text.tokens(col("text"))
    val quality = col("len_score") * 0.5 +
      (col("s_en").cast("double") / col("n_tokens").cast("double")) * 0.5
    docs.filter(col("lang") === "en" && col("doc_id") % 20 =!= 0)
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        (least(size(toks), lit(200)).cast("double") / 200.0).as("len_score"),
        Text.overlapScore(array_distinct(toks), enStops).as("s_en"))
      .join(canonical, "doc_id") // semi by construction: canonical is unique
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tokens"), quality.as("quality"))
      .filter(col("quality") >= 0.15)
      .orderBy(col("doc_id"))
  }

  /** Repetition/boilerplate scoring: duplicate-token ratio per
    * document, bucketed — the quality-filter signal that drops
    * template text from a training corpus. Integer-count double
    * arithmetic ⇒ bit-identical across engines.
    */
  val repetition: Q = Q(
    "q_repetition",
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(t) AS BIGINT) AS n_tok,
      |  CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
      |  CASE WHEN len(t) = 0 THEN 0.0
      |    ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE)/CAST(len(t) AS DOUBLE)
      |  END AS rep_ratio
      |FROM toks
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val t = Text.tokens(col("text"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(t).cast("long").as("n_tok"),
        size(array_distinct(t)).cast("long").as("n_uniq"),
        Text.repetitionRatio(col("text")).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Decontamination: training docs (doc_id % 20 != 0) whose 3-gram
    * Jaccard against ANY benchmark doc (doc_id % 20 = 0, standing in
    * for an eval set) reaches 0.8. Oracle replays the full cross
    * count-based join.
    */
  val decontaminate: Q = Q(
    "q_decontaminate",
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |shl AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
      |      ELSE [] END) AS s
      |  FROM toks),
      |sh AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM shl),
      |tr AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
      |be AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
      |inter AS (SELECT tr.doc_id AS d1, be.doc_id AS d2,
      |    tr.n AS n1, be.n AS n2, COUNT(*) AS i
      |  FROM tr JOIN be ON tr.g = be.g
      |  GROUP BY 1, 2, 3, 4)
      |SELECT d1, d2, CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) AS jaccard
      |FROM inter
      |WHERE CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) >= 0.8
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.jaccardAgainstPairs(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3, tau = 0.8)
      .orderBy(col("d1"), col("d2"))
  }

  /** BPE-ish regex token counting: letter runs / digit runs / single
    * non-space symbols — the subword-tokenizer-shaped count next to
    * the whitespace count (identical regex semantics in both engines:
    * simple character classes only).
    */
  val tokenRegex: Q = Q(
    "q_token_regex",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_ws_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        size(Text.tokens(col("text"))).cast("long").as("n_ws_tokens"))
      .orderBy(col("doc_id"))
  }

  private val enStops = Seq("the", "of", "and", "to", "in", "is", "for", "on", "with", "as")
  private val esStops = Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los")
  private val deStops = Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich")
  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** Per-document token statistics (token counting via the same
    * whitespace kernel in both engines).
    */
  val textStats: Q = Q(
    "q_text_stats",
    """WITH t AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
      |  CAST(list_reduce(list_transform(toks, x -> CAST(length(x) AS BIGINT)), (a,b) -> a+b) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS avg_token_len
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = Text.tokens(col("text"))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
        Text.avgTokenLen(col("text")).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide token frequency top-k (two-phase: distributed count,
    * then TakeOrdered — never a single-partition window).
    */
  val tokenTopK: Q = Q(
    "q_token_topk",
    """SELECT token, COUNT(*) AS cnt
      |FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY cnt DESC, token
      |LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)
  }

  /** Language-ID heuristic: distinct-stopword overlap per language,
    * deterministic argmax (en ≥ es ≥ de on ties).
    */
  val langId: Q = Q(
    "q_lang_id",
    s"""WITH t AS (SELECT doc_id, lang,
       |    list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS toks
       |  FROM documents),
       |sc AS (SELECT doc_id, lang,
       |    CAST(len(list_intersect(toks, ${sqlList(enStops)})) AS BIGINT) AS s_en,
       |    CAST(len(list_intersect(toks, ${sqlList(esStops)})) AS BIGINT) AS s_es,
       |    CAST(len(list_intersect(toks, ${sqlList(deStops)})) AS BIGINT) AS s_de
       |  FROM t)
       |SELECT doc_id, lang AS declared_lang, s_en, s_es, s_de,
       |  CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
       |       WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang
       |FROM sc
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = array_distinct(Text.tokens(col("text")))
    val scored = Tables.documents(s, dir).select(
      col("doc_id"), col("lang").as("declared_lang"),
      Text.overlapScore(toks, enStops).as("s_en"),
      Text.overlapScore(toks, esStops).as("s_es"),
      Text.overlapScore(toks, deStops).as("s_de"))
    scored
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
      .orderBy(col("doc_id"))
  }

  /** Quality score: length component + stopword-density component,
    * identical double arithmetic in both engines, bucketed.
    */
  val qualityScore: Q = Q(
    "q_quality_score",
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sc AS (SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(least(len(toks), 200) AS DOUBLE)/200.0 AS len_score,
       |    CAST(len(list_intersect(list_distinct(toks), ${sqlList(enStops)})) AS BIGINT) AS s_en
       |  FROM t)
       |SELECT doc_id, n_tokens,
       |  len_score*0.5 + (CAST(s_en AS DOUBLE)/CAST(n_tokens AS DOUBLE))*0.5 AS quality,
       |  CASE WHEN len_score*0.5 + (CAST(s_en AS DOUBLE)/CAST(n_tokens AS DOUBLE))*0.5 >= 0.3 THEN 'high'
       |       WHEN len_score*0.5 + (CAST(s_en AS DOUBLE)/CAST(n_tokens AS DOUBLE))*0.5 >= 0.15 THEN 'medium'
       |       ELSE 'low' END AS bucket
       |FROM sc
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = Text.tokens(col("text"))
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      (least(size(toks), lit(200)).cast("double") / 200.0).as("len_score"),
      Text.overlapScore(array_distinct(toks), enStops).as("s_en"))
    val quality = col("len_score") * 0.5 +
      (col("s_en").cast("double") / col("n_tokens").cast("double")) * 0.5
    base
      .select(
        col("doc_id"), col("n_tokens"),
        quality.as("quality"),
        when(quality >= 0.3, "high")
          .when(quality >= 0.15, "medium")
          .otherwise("low").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Exact-dedup fingerprint (md5 of normalized text) + duplicate
    * flag per fingerprint group.
    */
  val fingerprintDup: Q = Q(
    "q_fingerprint",
    """WITH f AS (SELECT doc_id,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp
      |  FROM documents)
      |SELECT doc_id, fp,
      |  COUNT(*) OVER (PARTITION BY fp) > 1 AS has_dup
      |FROM f
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .withColumn("has_dup",
        count(lit(1)).over(Window.partitionBy(col("fp"))) > 1)
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram-Jaccard near-dup pairs with shingle blocking — the
    * oracle-checked reference result the LSH variants approximate.
    */
  val ngramJaccard: Q = Q(
    "q_ngram_jaccard",
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |shl AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
      |      ELSE [] END) AS s
      |  FROM toks),
      |sh AS (SELECT doc_id, unnest(s) AS g FROM shl),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(s) AS n FROM shl)
      |SELECT d1, d2, CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) AS jaccard
      |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
      |WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.8
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.8)
      .orderBy(col("d1"), col("d2"))
  }

  /** DF-pruned Jaccard (stop-shingle pruning, the degenerate-corpus
    * scale path): grams in more than 20 documents are dropped from
    * every set before similarity — pruning mirrored in the oracle.
    */
  val jaccardPruned: Q = Q(
    "q_jaccard_pruned",
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |shl AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
      |      ELSE [] END) AS s
      |  FROM toks),
      |sh AS (SELECT doc_id, unnest(s) AS g FROM shl),
      |kept AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 20),
      |sh2 AS (SELECT doc_id, g FROM sh JOIN kept USING (g)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM sh2 a JOIN sh2 b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) AS jaccard
      |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
      |WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.8
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Dedup.jaccardPairsPruned(Tables.documents(s, dir), "doc_id", "text",
        n = 3, tau = 0.8, maxDf = 20)
      .orderBy(col("d1"), col("d2"))
  }

  /** Duplicate-cluster assignment: connected components over the
    * q_ngram_jaccard pair set, one row per document with its cluster
    * id and keep flag. The oracle recomputes the same fixpoint from
    * first principles — recursive reachability over the brute-force
    * pair edges, cluster id = min reachable doc id — so equality
    * proves the distributed label propagation exact over the full
    * corpus (isolated documents included).
    */
  val dedupClusters: Q = Q(
    "q_dedup_clusters",
    """WITH RECURSIVE toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |shl AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
      |      ELSE [] END) AS s
      |  FROM toks),
      |sh AS (SELECT doc_id, unnest(s) AS g FROM shl),
      |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT doc_id, len(s) AS n FROM shl),
      |edges AS (SELECT d1, d2
      |  FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
      |  WHERE CAST(i AS DOUBLE)/CAST(x.n + y.n - i AS DOUBLE) >= 0.8),
      |sym AS (SELECT d1 AS src, d2 AS dst FROM edges
      |  UNION ALL SELECT d2, d1 FROM edges),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
      |SELECT src AS doc_id, MIN(dst) AS cluster_id,
      |  MIN(dst) = src AS is_canonical
      |FROM reach GROUP BY src
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Dedup.duplicateClusters(Tables.documents(s, dir), "doc_id", "text",
        n = 3, tau = 0.8)
      .orderBy(col("doc_id"))
  }

  /** MinHash-LSH near-dup pairs (scale path). FULL oracle gate: the
    * signature hash family is the portable [[graft.plans.PolyHash]]
    * and the band keys are the minima vectors themselves, so the
    * oracle replays the ENTIRE candidate derivation — shingle hash,
    * the 32 seeded affine permutations (coefficient stream inlined as
    * literals — `java.util.Random(0x5eed)`, see MinHashSig), per-perm
    * minima, 8×4 banding, bucket join — then the exact-Jaccard
    * verification, bit-for-bit in DuckDB integer arithmetic.
    */
  /** Shared oracle CTE prefix for the MinHash-LSH queries: shingle
    * sets → portable PolyHash shingle hashes → the 32 seeded affine
    * permutations (coefficient stream from `java.util.Random(0x5eed)`,
    * see MinHashSig) → per-perm minima → ordered signature → 8×4 band
    * minima vectors. One definition so q_minhash_dedup and
    * q_incremental_dedup provably replay the IDENTICAL hash family.
    */
  private val minhashBandCtes: String =
    """toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |shl AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))
      |      ELSE [] END) AS s
      |  FROM toks),
      |ne AS (SELECT doc_id, s FROM shl WHERE len(s) > 0),
      |sh AS (SELECT doc_id, unnest(list_transform(s, g -> list_reduce(
      |    list_prepend(7::BIGINT,
      |      list_transform(string_split(g, ''), c -> unicode(c)::BIGINT)),
      |    (acc, cp) -> (acc*1000003 + cp) % 2147483647))) AS h
      |  FROM ne),
      |perms(p, a, b) AS (VALUES
      |  (0,1455478599::BIGINT,2074639019::BIGINT),(1,1810807101::BIGINT,875253779::BIGINT),
      |  (2,1232663031::BIGINT,1400981428::BIGINT),(3,161785851::BIGINT,1959980631::BIGINT),
      |  (4,1340463099::BIGINT,432076399::BIGINT),(5,1762912065::BIGINT,1207753830::BIGINT),
      |  (6,1754171867::BIGINT,1852495388::BIGINT),(7,1658820891::BIGINT,933886503::BIGINT),
      |  (8,351850429::BIGINT,1216350823::BIGINT),(9,955005597::BIGINT,714626880::BIGINT),
      |  (10,1297606175::BIGINT,330023097::BIGINT),(11,177861517::BIGINT,1333449886::BIGINT),
      |  (12,2133280411::BIGINT,573589686::BIGINT),(13,667514837::BIGINT,2048372246::BIGINT),
      |  (14,430181565::BIGINT,1212219941::BIGINT),(15,433663943::BIGINT,6105869::BIGINT),
      |  (16,1075723013::BIGINT,1892034099::BIGINT),(17,1491822407::BIGINT,530763850::BIGINT),
      |  (18,2038800495::BIGINT,1645002374::BIGINT),(19,1939149827::BIGINT,1063701782::BIGINT),
      |  (20,471956661::BIGINT,1720699466::BIGINT),(21,1258905611::BIGINT,268503810::BIGINT),
      |  (22,976463901::BIGINT,1607534592::BIGINT),(23,927848545::BIGINT,1923123667::BIGINT),
      |  (24,1674025755::BIGINT,796639856::BIGINT),(25,705719765::BIGINT,1818955797::BIGINT),
      |  (26,1160717025::BIGINT,1475493819::BIGINT),(27,407186219::BIGINT,1580236055::BIGINT),
      |  (28,2045510011::BIGINT,1650275136::BIGINT),(29,1349559315::BIGINT,1353267743::BIGINT),
      |  (30,1466536627::BIGINT,1226456460::BIGINT),(31,976484147::BIGINT,204254924::BIGINT)),
      |mins AS (SELECT sh.doc_id, perms.p, MIN(perms.a*sh.h + perms.b) AS m
      |  FROM sh CROSS JOIN perms GROUP BY 1, 2),
      |sig AS (SELECT doc_id, list(m ORDER BY p) AS sig FROM mins GROUP BY 1),
      |banded AS (SELECT doc_id, bd.band, sig[bd.band*4+1 : bd.band*4+4] AS bk
      |  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band) bd)""".stripMargin

  val minhashDedup: Q = Q(
    "q_minhash_dedup",
    s"WITH $minhashBandCtes,\n" +
    """cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
      |pairs AS (SELECT c.d1, c.d2, len(list_intersect(a.s, b.s)) AS i,
      |    len(a.s) AS n1, len(b.s) AS n2
      |  FROM cand c JOIN ne a ON c.d1 = a.doc_id JOIN ne b ON c.d2 = b.doc_id)
      |SELECT d1, d2, CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) AS jaccard
      |FROM pairs
      |WHERE CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) >= 0.8
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    Dedup.minhashLshPairs(
      Tables.documents(s, dir), "doc_id", "text",
      n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
      .orderBy(col("d1"), col("d2"))
  }

  /** Incremental ingest dedup (the continuous-corpus path): the
    * incoming batch (doc_id ≡ 0 mod 5, ~20%) is classified against
    * the base corpus (the rest) by MinHash-LSH — band both sides,
    * bucket-join incoming×base, verify candidates with true Jaccard,
    * keep each incoming document's BEST base match (highest Jaccard,
    * ties to the lowest base id). FULL oracle gate: signatures come
    * from the shared [[minhashBandCtes]] prefix, so candidate
    * generation, verification, and the argmax all replay bit-for-bit
    * in DuckDB (`QUALIFY row_number()`).
    */
  val incrementalDedup: Q = Q(
    "q_incremental_dedup",
    s"WITH $minhashBandCtes,\n" +
    """cand AS (SELECT DISTINCT x.doc_id AS d_new, y.doc_id AS d_base
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bk = y.bk
      |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0),
      |pairs AS (SELECT c.d_new, c.d_base, len(list_intersect(a.s, b.s)) AS i,
      |    len(a.s) AS n1, len(b.s) AS n2
      |  FROM cand c JOIN ne a ON c.d_new = a.doc_id
      |    JOIN ne b ON c.d_base = b.doc_id),
      |scored AS (SELECT d_new, d_base,
      |    CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) AS jaccard
      |  FROM pairs
      |  WHERE CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) >= 0.8)
      |SELECT d_new AS doc_id, d_base AS dup_of, jaccard
      |FROM scored
      |QUALIFY row_number() OVER (
      |  PARTITION BY d_new ORDER BY jaccard DESC, d_base) = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    Dedup.lshDedupAgainstBase(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL cluster maintenance
    * ([[graft.operators.Components.connectedIncremental]]): the base
    * corpus (doc_id ≢ 0 mod 5) is clustered from its own MinHash-LSH
    * pair set, then ONE ingest cycle folds the incoming batch (doc_id
    * ≡ 0 mod 5) in by contracting touched components and running the
    * fixpoint on the delta-sized reduced graph only. Because LSH pair
    * membership is a PAIRWISE property (two docs share a band bucket
    * or not, regardless of corpus), base-base ∪ new-base ∪ new-new
    * pairs is exactly the full-corpus pair set — so the oracle, which
    * recomputes clusters FROM SCRATCH over the whole corpus (shared
    * [[minhashBandCtes]] signatures + recursive reachability), proves
    * incremental ≡ from-scratch, including isolated docs and
    * batch-induced merges of previously-distinct base components.
    */
  /** From-scratch whole-corpus clusters by recursive reachability over
    * the verified LSH pair set — the shared oracle of every
    * incremental/streamed clustering gate (q_incremental_cc,
    * q_incremental_cc_fold, q_stream_cc): LSH pair membership is a
    * PAIRWISE property, so base∪delta pair sets and any batch split
    * of the corpus all reach exactly these clusters.
    */
  private lazy val ccFromScratchSql: String =
    s"WITH RECURSIVE $minhashBandCtes,\n" +
    """cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
      |pairs AS (SELECT c.d1, c.d2, len(list_intersect(a.s, b.s)) AS i,
      |    len(a.s) AS n1, len(b.s) AS n2
      |  FROM cand c JOIN ne a ON c.d1 = a.doc_id JOIN ne b ON c.d2 = b.doc_id),
      |edges AS (SELECT d1, d2 FROM pairs
      |  WHERE CAST(i AS DOUBLE)/CAST(n1 + n2 - i AS DOUBLE) >= 0.8),
      |sym AS (SELECT d1 AS src, d2 AS dst FROM edges
      |  UNION ALL SELECT d2, d1 FROM edges),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, s2.dst FROM reach r JOIN sym s2 ON r.dst = s2.src)
      |SELECT src AS doc_id, MIN(dst) AS cluster_id,
      |  MIN(dst) = src AS is_canonical
      |FROM reach GROUP BY src
      |ORDER BY doc_id""".stripMargin

  val incrementalCc: Q = Q(
    "q_incremental_cc",
    ccFromScratchSql) { (s, dir) =>
    import graft.operators.Components
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    // ONE LshSide per relation: the base side's shingles+signatures
    // feed both the base labeling and the cross pairs (at 100 TB the
    // corpus side is the expensive half and is reusable across cycles)
    val sideB = Dedup.lshSide(base, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 4)
    val sideI = Dedup.lshSide(incoming, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 4)
    val baseLabels = Components.connected(
      base.select(col("doc_id")), "doc_id",
      Dedup.minhashLshPairs(sideB, tau = 0.8), "d1", "d2")
    // fused candidate-union verification (Dedup.lshDeltaPairs): the
    // cycle's whole delta pays one dedup + one pair of shingle joins
    val delta = Dedup.lshDeltaPairs(sideB, sideI, tau = 0.8)
      .select(col("d1"), col("d2"))
    Components.connectedIncremental(
        baseLabels, "doc_id", "component",
        incoming.select(col("doc_id")), delta, "d1", "d2")
      .select(col("doc_id"), col("component").as("cluster_id"),
        (col("doc_id") === col("component")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** One-time prep for the incremental-CC FOLD measurements: the
    * standing base labeling (a [[graft.operators.Components.connected]]
    * fixpoint over the base corpus, doc_id ≢ 0 mod 5) and the delta
    * edge set (cross + within-batch LSH pairs of the incoming batch)
    * written to parquet ONCE per (JVM, dir) — a production fold starts
    * from stored assignments, so reading them back is part of a real
    * cycle while building them is not. Shared by q_incremental_cc_fold
    * and the rehearsal's x_incremental_cc_fold; returns
    * (labelsPath, edgesPath).
    */
  def ccFoldPrep(s: org.apache.spark.sql.SparkSession, dir: String)
      : (String, String) = {
    val root = Fixtures.path("ccfold", dir)
    val (lblPath, edgePath) = (s"$root/labels", s"$root/edges")
    Fixtures.once(root) {
      import graft.operators.Components
      val docs = Tables.documents(s, dir)
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val incoming = docs.filter(col("doc_id") % 5 === 0)
      Components.connected(
          base.select(col("doc_id")), "doc_id",
          Dedup.minhashLshPairs(base, "doc_id", "text", 3, 0.8, 8, 4),
          "d1", "d2")
        .write.mode("overwrite").parquet(lblPath)
      Dedup.lshDeltaPairs(
          Dedup.lshSide(base, "doc_id", "text", 3, 8, 4),
          Dedup.lshSide(incoming, "doc_id", "text", 3, 8, 4), 0.8)
        .select(col("d1"), col("d2"))
        .write.mode("overwrite").parquet(edgePath)
      graft.CacheScope.release()
    }
    (lblPath, edgePath)
  }

  /** The incremental-CC FOLD as a catalog query (VERDICT r11 item 5):
    * q_incremental_cc's 6.5s is ~80% gate construction (from-scratch
    * base labeling built INSIDE the query so the oracle can prove
    * incremental ≡ from-scratch); this twin prices what a growing
    * corpus pays EVERY ingest cycle — read the stored labeling and
    * delta edge set, fold with
    * [[graft.operators.Components.connectedIncremental]] (two narrow
    * joins over the labeling + a fixpoint on the delta-sized reduced
    * graph). The one-time prep is memoized per (JVM, dir), so under
    * Bench's min-over-3-interleaved-passes protocol the headline
    * number is the fold alone (pass 1 pays the prep and lands in
    * _max). Same FULL oracle as q_incremental_cc: the fold's output
    * IS the whole-corpus labeling, which DuckDB recomputes from
    * scratch by recursive reachability.
    */
  val incrementalCcFold: Q = Q(
    "q_incremental_cc_fold",
    ccFromScratchSql) { (s, dir) =>
    import graft.operators.Components
    val (lblPath, edgePath) = ccFoldPrep(s, dir)
    val incoming = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
    Components.connectedIncremental(
        s.read.parquet(lblPath), "doc_id", "component",
        incoming.select(col("doc_id")),
        s.read.parquet(edgePath), "d1", "d2")
      .select(col("doc_id"), col("component").as("cluster_id"),
        (col("doc_id") === col("component")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** CONTINUOUS near-dup flagging ([[graft.streaming.Streams.nearDupStream]]):
    * the documents table replayed as a stream (event time = epoch +
    * doc_id seconds, so arrival order is doc-id order), each band
    * bucket's first arrival held in GroupState, later arrivals flagged
    * when their signature agreement is ≥ τ. FULL oracle gate — the
    * first-arrival rule (min doc id per bucket), the agreement count
    * over the shared portable signatures, and the τ cut all replay in
    * DuckDB. The streaming twin of [[incrementalDedup]]: same buckets,
    * but similarity is estimated from signature agreement (a stream
    * cannot keep every shingle set) instead of verified exactly.
    */
  val streamNearDup: Q = Q(
    "q_stream_neardup",
    s"WITH $minhashBandCtes,\n" +
    """firsts AS (SELECT band, bk, MIN(doc_id) AS first_id
      |  FROM banded GROUP BY band, bk),
      |flags AS (SELECT b.doc_id, f.first_id AS dup_of,
      |    CAST(len(list_filter(range(1, 33),
      |      i -> s1.sig[i] = s2.sig[i])) AS DOUBLE)/32.0 AS est_jaccard
      |  FROM banded b
      |  JOIN firsts f ON b.band = f.band AND b.bk = f.bk
      |    AND b.doc_id > f.first_id
      |  JOIN sig s1 ON s1.doc_id = b.doc_id
      |  JOIN sig s2 ON s2.doc_id = f.first_id)
      |SELECT DISTINCT doc_id, dup_of, est_jaccard
      |FROM flags
      |WHERE est_jaccard >= 0.8
      |ORDER BY doc_id, dup_of""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    // point the stream at the table PATH itself: a glob filter over
    // the parent dir breaks when the table is a directory of part
    // files (the scaled rehearsal tiers) instead of a single file
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val src = s.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$dir/documents.parquet")
      .withColumn("ts",
        timestamp_seconds(lit(1704067200L) + col("doc_id")))
    val out = graft.streaming.Streams.nearDupStream(
      src, "doc_id", "text", "ts", "10 minutes",
      n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
    val name = Fixtures.freshName("stream_neardup")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(name)
      .dropDuplicates("doc_id", "dup_of")
      .orderBy(col("doc_id"), col("dup_of"))
  }

  /** CONTINUOUS cluster maintenance
    * ([[graft.streaming.Streams.clusterStream]]): the documents table
    * replayed as a 3-micro-batch stream (one file per trigger), each
    * batch LSH-banded once and folded into the standing labels on the
    * delta-contracted reduced graph — the streamed composition of
    * q_incremental_dedup's banding and q_incremental_cc's fold. Runs
    * the PRODUCTION persistence (the default `labelsAsTable`, r15
    * sidecar form): each fold appends its delta labeling
    * ([[graft.operators.Components.connectedIncrementalDelta]] —
    * write AND read ∝ delta + touched components) to a per-batch
    * sidecar, the logical labeling is table ⊕ sidecar, and the one
    * corpus-scale MERGE plus history vacuum/prune runs on the
    * compaction cadence. FULL oracle gate: any batch split of an append-only
    * corpus folds to the same labeling (LSH pair membership is
    * pairwise), so DuckDB recomputes the clusters from scratch by
    * recursive reachability — the same oracle as q_incremental_cc.
    * Crash/restart equivalence (both persistences) is StreamSpec's;
    * the rewrite option is priced next to this mode in the
    * rehearsal's drain entry.
    */
  val streamCc: Q = Q(
    "q_stream_cc",
    ccFromScratchSql) { (s, dir) =>
    val srcDir = Fixtures.path("stream_cc_src", dir)
    // 3-file replay source (doc_id mod 3), built once per (JVM, dir);
    // each file is one micro-batch under maxFilesPerTrigger=1
    Fixtures.once(srcDir) {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3L)).cast("int").as("b"))
        .repartition(col("b"))
        .write.mode("overwrite").partitionBy("b").parquet(srcDir)
    }
    // the feed's schema is the file schema (doc_id, text), without the
    // split column (see Streams.fileFeed)
    graft.streaming.Streams.clusterStream(
        graft.streaming.Streams.fileFeed(s, srcDir), "doc_id", "text",
        Fixtures.fresh("stream_cc_state"), Fixtures.fresh("stream_cc_ckpt"),
        n = 3, tau = 0.8, bands = 8, rowsPerBand = 4)
      .select(col("doc_id"), col("component").as("cluster_id"),
        (col("doc_id") === col("component")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** The 6-block/20-combination Hamming banding as DuckDB CASE arms,
    * generated from the SAME geometry the Spark side bands with
    * ([[Dedup.HamGeo3]]) — the two derivations cannot drift.
    */
  private lazy val hamComboCase: String = {
    val geo = Dedup.HamGeo3
    geo.combos.zipWithIndex.map { case (c, i) =>
      val parts = c.map(b =>
        s"(sig >> ${geo.offsets(b)}) & ${(1L << geo.widths(b)) - 1}")
      s"WHEN $i THEN [${parts.mkString(", ")}]"
    }.mkString(" ")
  }

  /** SimHash near-dup pairs (Hamming ≤ 3, combination-banded). FULL
    * oracle gate: the 62-bit signature (two portable PolyHash halves,
    * per-bit vote signs) and the 3-of-6-block combination banding
    * (Manku WWW'07 pigeonhole — ~31-bit keys, the census-driven
    * replacement for saturating 16-bit blocks) replay exactly in
    * DuckDB bit/list arithmetic. Null-text documents carry a null
    * signature on the Spark side and are excluded here; empty-token
    * documents hash to signature 0 on BOTH sides (the LEFT JOIN +
    * COALESCE).
    */
  val simhashPairs: Q = Q(
    "q_simhash_pairs",
    """WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
      |  FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id,
      |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tk
      |  FROM docs),
      |th AS (SELECT doc_id,
      |    (list_reduce(list_prepend(7::BIGINT,
      |        list_transform(string_split(tk, ''), c -> unicode(c)::BIGINT)),
      |      (acc, cp) -> (acc*1000003 + cp) % 2147483647) << 31)
      |    | list_reduce(list_prepend(7::BIGINT,
      |        list_transform(string_split(tk, ''), c -> unicode(c)::BIGINT)),
      |      (acc, cp) -> (acc*131 + cp) % 2147483647) AS h
      |  FROM tok),
      |bits AS (SELECT doc_id, bb.b,
      |    SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM th CROSS JOIN (SELECT unnest(range(62)) AS b) bb GROUP BY 1, 2),
      |sigagg AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY 1),
      |sig AS (SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
      |  FROM docs d LEFT JOIN sigagg s ON d.doc_id = s.doc_id),
      |blocks AS (SELECT doc_id, sig, bl.blk,
      |""".stripMargin +
    s"    CASE bl.blk $hamComboCase END AS bv\n" +
    """  FROM sig CROSS JOIN (SELECT unnest(range(20)) AS blk) bl),
      |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
      |    x.sig AS s1, y.sig AS s2
      |  FROM blocks x JOIN blocks y
      |    ON x.blk = y.blk AND x.bv = y.bv AND x.doc_id < y.doc_id)
      |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
      |FROM cand
      |WHERE bit_count(xor(s1, s2)) <= 3
      |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
    val sigs = Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
    Dedup.simhashPairs(sigs, "doc_id", maxDist = 3)
      .orderBy(col("d1"), col("d2"))
  }
}
