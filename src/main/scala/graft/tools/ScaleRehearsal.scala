package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.{CacheScope, SparkEntry}
import graft.Session.withConf
import graft.sources.DeltaDml.ModeKey
import graft.queries.Fixtures

/** sf1 scale rehearsal of the superlinear-risk query family (VERDICT
  * r5 item 4): converts the "plan looks linear" story into a
  * measurement by timing each family query at sf0.1 and at a 10×
  * scale-up, and reporting the growth ratio. Near-linear ⇒ ratio ≲
  * 10-15× (timing noise + the n·log n terms in shuffles); a blow-up ⇒
  * an operator whose cost is superlinear in corpus size and needs a
  * fix, not a bigger box.
  *
  * The sf1 inputs are a DETERMINISTIC 10× scale-up of the driver's
  * read-only sf0.1 tables (the driver's own generator is not
  * available in-container), built to measure ENGINE scaling at a
  * fixed per-key distribution rather than data degeneracy:
  *
  *  - `documents`: 10 copies; copy k>0 rewrites every whitespace
  *    token t → t+"k". Injective per copy ⇒ each copy's internal
  *    shingle-set geometry (and so its near-dup pairs) is EXACTLY
  *    sf0.1's, while the ten copies' shingle spaces are pairwise
  *    disjoint ⇒ per-shingle document frequency is preserved, the
  *    shingle vocabulary grows 10×, and expected output pairs are
  *    exactly 10× sf0.1's. This is the sharded-corpus model (ten
  *    domains side by side). The OTHER axis — per-gram df growing
  *    with corpus size on a fixed vocabulary — is a data-degeneracy
  *    axis, not an engine-scaling axis: it is what the stop-list
  *    pruning in jaccardPairsPruned (and its broadcast guard) exists
  *    for, and conflating the two would make every ratio
  *    uninterpretable.
  *  - `embeddings`: 10 copies; copy k circularly rotates each
  *    64-dim vector by k positions. A fixed permutation of
  *    dimensions preserves every intra-copy inner product (norms and
  *    cosines bit-identical), so each copy carries sf0.1's exact
  *    neighborhood structure. Cross-copy cosines are REDUCED, not
  *    eliminated: the generator's embeddings carry cluster structure
  *    that survives small rotations, so at the low τ=0.4 the
  *    SRP-pairs OUTPUT grows superlinearly (~100× — cluster-mate
  *    pairs, the same quadratic output a genuinely 10× clustered
  *    corpus would produce). The measured quantity is RUNTIME
  *    scaling of candidate generation, which stays linear despite
  *    the quadratic result set (measured 10.1× at 10× input).
  *  - `events`: 10 copies with event_id (the LSN space) and user_id
  *    offset per copy — a 10× change log over 10× keys, same op mix
  *    and bucket function.
  *
  * Run: `sbt "runMain graft.tools.ScaleRehearsal"` — writes the
  * target/sf1 and target/sf10 parquet tables once (reused if present),
  * times the families with Bench's protocol ([[Exec]]: warm pass, 3
  * interleaved passes, per-cell min/median/max) and writes the JSON
  * artifact named at the end of `main`.
  */
object ScaleRehearsal {

  private val Family = Seq(
    "q_ngram_jaccard", "q_jaccard_pruned", "q_simhash_pairs",
    "q_embed_srp_pairs", "q_knn_ann", "q_knn_ivf", "q_cdc_tx",
    // iterative connected-components family: rounds scale with
    // component diameter, each round with corpus size
    "q_dedup_clusters", "q_embed_decontaminate",
    // the composed selection pipeline (clusters ∧ lang ∧ quality ∧
    // decontamination in one query)
    "q_corpus_select",
    // round-6 part-3 features: bloom build+probe over 10× keys,
    // quantile+interleave+range-write at 10× rows, per-domain rank
    // window at 10× corpus, HLL MV fold at 10× events
    "q_bloom_join", "q_zorder_skip", "q_corpus_mix", "q_sketch_mv",
    // part-4/5: sketch + histogram TypedImperativeAggregates at 10×
    // input (state size fixed, input linear), shard write at 10× rows
    "q_freq_tokens", "q_drift_psi", "q_shard_export",
    // part-7: the format("graft") stack — commit-time stats collection
    // over 10× rows, then a planner-pruned SQL read whose file skipping
    // must hold the scan constant-ish while the table grows
    "q_format_read",
    // part-8: outbound CDC — the manifest diff must keep the delta
    // proportional to changed data while the table and the change log
    // both grow 10×
    "q_table_changes",
    // part-15: manifest-stats aggregate pushdown — the aggregate
    // answers from metadata, so its cost at 10× data is the CTAS
    // build (linear write), with the answered query itself ~constant.
    // (q_spj_join is deliberately absent: its even⋈odd pair count is
    // quadratic in per-custkey duplication, so a 10× input yields
    // ~100× output by SEMANTICS — the zero-exchange claim is
    // structural, pinned by KeyedScanSpec and the query's own plan
    // REQUIRE at any size.)
    "q_stats_agg",
    // part-17: co-bucketed fact⋈dim join — 10× orders against the
    // FIXED customer dimension; the shuffle-free join's cost must
    // track the fact side (CTAS build + per-bucket local join)
    "q_bucket_join",
    // round-7 (VERDICT r6 items 1+7): the SQL DML family — CTAS build,
    // metadata DELETE, runtime-group-filtered CoW DELETE, and a
    // partition-scoped UPDATE, all over 10× orders; rewrite cost must
    // track the TOUCHED partitions, not the table
    "q_sql_delete",
    // broadcast lookup cascade: three fixed dim builds, 10× lineitem
    // probe — certifies the J2 full-cache posture under fact growth
    "q_lookup_cascade",
    // round-7: bucket-table DML — CTAS into bucket(8, o_orderkey)
    // over 10× orders, then modulo DELETE + key DELETE + modulo
    // UPDATE; CoW cost must track the touched bucket groups and the
    // pre-placed build must not small-file
    "q_bucket_dml",
    // round-7: file-per-row LOB export roundtrip — 10× documents ⇒
    // 10× files written and re-read; cost must track file count
    // (executor-parallel raw-FS writes, one-listStatus read-back)
    "q_lob_export",
    // rehearsal-only shapes (not oracle queries — their catalog
    // versions probe 25-row dims by oracle design, which a 10× ratio
    // cannot measure): the same MERGE and dictGet machinery pointed at
    // the scaling fact side
    "x_sql_merge", "x_sql_mor", "x_dict_probe",
    // round-8: merge-on-read CDC apply — rehearsal-only shape (the
    // oracle q_cdc_mor's two-phase split shares no keys across halves
    // on the COPY-scaled log, so its matched clauses would never
    // fire): a scattered replay batch over the snapshot's OWN keys,
    // write ∝ batch with v0 files byte-untouched by construction
    "x_cdc_mor",
    // round-8 (VERDICT r7 item 3): skewed-bucket SPJ straggler — the
    // fact lands bucket(8) with ~half its rows on ONE key, joined
    // co-bucketed. `full` is the fully-clustered contract (one task
    // per bucket — the hot bucket serializes and AQE cannot split a
    // key-grouped partition); `partial` enables Spark's
    // partiallyClusteredDistribution, which keeps the hot bucket's
    // files as separate tasks and replicates the dim's matching
    // groups. The pair's wall-clock gap IS the straggler measurement.
    "x_skew_spj_full", "x_skew_spj_partial",
    // fourth session: SQL merge-on-read TRICKLE — a constant-size
    // (~64-key) CDC batch merged into a bucket(256) orders table.
    // `full` disables the injected runtime file filter
    // (spark.graft.dml.morRuntimeFiltering=false → the delta scan
    // reads the whole table); `pruned` keeps it (the source's
    // distinct keys prune the scan to ≤64 of 256 buckets at the
    // manifest). The pair's gap IS the MorDmlRuntimeFiltering
    // measurement, and it must WIDEN with table size.
    "x_mor_trickle_full", "x_mor_trickle_pruned",
    // round-12 (VERDICT r11 item 4): DV-heavy merge-on-read read-back
    // — 12M position deletes at the sf1 tier, past the former driver
    // cap; the executor-side per-file DV load must scale with the tier
    "x_mor_dv_heavy",
    // round-13: the SAME heavy table read through the delta SCAN (a
    // no-match mor DML) — every file's ~80%-deleted skip list loads
    // executor-side as a PosBitmap; the artifact's dv_bitmap section
    // records the heaviest file's positions and retained bytes
    "x_mor_dv_heavy_dml",
    // round-12: trickle-HISTORY read-back — 32 small DV files, the
    // manifest key lists scope each partition's DV probes
    "x_mor_dv_trickle_read",
    // round-13 (VERDICT r12 item 3): WIDE-DML read-back — 4 mor MERGEs
    // each touching >64 files of a bucket(256) table, so every DV entry
    // records a DvBloom instead of "unknown"; the timed pass is a
    // full-table delta scan whose per-file DV probes the blooms scope
    // to ~true coverage (the REQUIRE gates probes/files well under
    // the unknown-coverage dvs-per-file)
    "x_mor_dv_wide",
    // round-10 pipeline additions: batch-vs-corpus LSH dedup (both
    // sides scale), streaming near-dup (10× docs ⇒ 10× band-bucket
    // state), token-budget mix (FIXED budget, so cost must track the
    // scan+window, with the selection constant), context-window
    // chunking (pure per-row codegen — must ride the scan).
    // q_stream_scd2 is deliberately absent: customer is a FIXED
    // dimension in the scale tiers (the co-bucket contract), so its
    // ratio would measure nothing.
    "q_incremental_dedup", "q_stream_neardup", "q_token_budget_mix",
    "q_chunk_windows",
    // round-11: incremental cluster maintenance (delta-sized reduced
    // graph — its ratio must track the batch+touched components, NOT
    // the full-corpus CC), and the token-budget mix under deliberate
    // domain skew (~95% of documents in ONE domain; the rank
    // pre-prune caps the hot domain's reduce-side input at
    // tasks×maxBudget rows, so the ratio must stay ~linear in the
    // scan)
    "q_incremental_cc", "x_token_budget_skew", "x_incremental_cc_fold",
    // round-12: continuous cluster maintenance — 3 streamed folds over
    // a 10× corpus; per-batch cost must track (batch + touched
    // components), so the 3-batch drain must track the corpus
    "q_stream_cc",
    // round-11: incremental embedding near-dup — incoming×base bucket
    // join at 10× vectors (both sides scale; candidate generation must
    // stay linear exactly as the whole-corpus SRP entry does)
    "q_embed_incremental",
    // round-15 (VERDICT r14 item 7): the executor-side k-means seam
    // FORCED (capVectors=1 → the distributed branch) at FIXED k, so
    // the tier ratio prices the distributed Lloyd passes' linear
    // corpus scaling — proof the past-the-cap fallback is real code
    // that runs, not a documented seam
    "x_ivf_train_dist",
    // round-16 (VERDICT r15 items 2+3): the two r15 additions join the
    // tiers now that the bench action times them honestly (Exec).
    // q_semdedup's design bound is pairs = Σ C(n_b,2) ≈ n^1.5 at
    // k = √n — cand/row slope ≈ √10 per tier, the same ivf-bucket
    // census the slope gate already guards (identical deterministic
    // model). q_hybrid_rrf's legs are aggregate/top-k shaped: both
    // rank-cut to 50 before the fusion join, so the tier ratio must
    // track the scans, never the fusion
    "q_semdedup", "q_hybrid_rrf",
    // round-16: DSIR importance-weighted selection — two linear
    // passes (64-row broadcast stats, then scoring) + a fixed top-k;
    // the tier ratio must track the scans
    "q_dsir_select",
    // round-17 (VERDICT r16 item 3): DSIR at the paper's realistic
    // feature width — 2^16 hashed buckets instead of the 64-bucket
    // oracle fixture. The stats model is still <= buckets rows (a
    // broadcast; ~65k rows is ~1 MB), the scoring join must stay
    // BroadcastHashJoin, and the tier ratio must stay scan-bound —
    // the claim that bucket width is a model-size knob, not a
    // corpus-pass knob
    "x_dsir_wide",
    // round-17 (VERDICT r16 item 7): DoReMi domain reweighting — ONE
    // linear aggregation pass to a <= D*buckets-row model, then pure
    // model arithmetic; the tier ratio must track the token scan
    "q_domain_reweight",
    // round-17 (VERDICT r16 item 8): streaming DSIR — a 10-trickle
    // drain at the tier with model refresh every 5 batches. Scoring
    // is O(batch) against the FROZEN broadcast model; the two
    // refreshes are the amortized O(corpus) term — the tier ratio
    // prices the whole drain and must stay ~linear in the corpus
    "x_stream_dsir",
    // round-17: the selection capstone — DoReMi-learned weights
    // feeding the mixture sampler; one token-scan aggregation pass
    // (the model), one count pass, one rank window over the FIXED
    // 300-doc budget (map-side WindowGroupLimit) — the tier ratio
    // must track the scans, never the selection
    "q_doremi_mix",
    // round-18 (VERDICT r17 item 4): DoReMi at the paper's realistic
    // estimator width — 2^16 hashed buckets instead of the 64-bucket
    // oracle fixture (the x_dsir_wide treatment). The driver collect
    // is the D·buckets model (recorded: doremi_model_rows); the
    // corpus pass is the same ONE token-scan aggregation, so the tier
    // ratio must stay scan-bound — bucket width is a model-size knob,
    // not a corpus-pass knob
    "x_doremi_wide")

  /** 100×-tier family (VERDICT r7 item 2): the scale-critical
    * DML/SPJ/dedup/ANN core, timed at sf0.1 and at a deterministic
    * 100× scale-up. Near-linear ⇒ ratio ≲ 100-150×.
    */
  private val Family100 = Seq(
    "q_sql_delete", "q_bucket_dml", "q_bucket_join", "q_mor_delete",
    "q_mor_update", "q_mor_merge", "q_spj_partial", "q_dedup_clusters",
    "q_jaccard_pruned", "q_knn_ann", "q_knn_ivf", "q_lookup_cascade",
    // round-14 (VERDICT r13 item 1): whole-corpus SRP pairs at 100×
    // vectors under the ADAPTIVE geometry — the entry that was
    // quadratic at fixed 6-bit tables (the r13 census's saturation
    // proof); candidates-per-row must now stay ~flat across tiers
    "q_embed_srp_pairs",
    // round-13 (VERDICT r12 item 7): the IVF production split at index
    // scale — centroids trained ONCE per tier and the assigned corpus
    // stored; the timed pass is the QUERY-ONLY path (probe + candidate
    // join + top-k over the stored index), so the ratio prices what a
    // query cycle pays against a standing 100-TB index, with training
    // and assignment amortized to corpus updates
    "x_ivf_query_only",
    // round-15 (VERDICT r14 item 4): the IVF-PQ production read path at
    // index scale — centroids + codebooks trained once per tier, the
    // COMPRESSED index (m ints + bucket per vector) stored; the timed
    // pass scans m-byte codes via the ADC LUT for the fixed query
    // slice, with cand_ivfpq censused per run. The pair
    // (x_ivf_query_only, x_pq_query_only) is the bytes-per-candidate
    // comparison at the tier where it matters
    "x_pq_query_only",
    "x_sql_merge", "x_sql_mor",
    "x_mor_trickle_full", "x_mor_trickle_pruned",
    // round-10: the LSH ingest-dedup and the streaming near-dup at
    // 100× docs — the two new operators whose state/candidate growth
    // could in principle turn superlinear
    "q_incremental_dedup", "q_stream_neardup",
    // round-11 (VERDICT r10 item 5): incremental cluster maintenance
    // at 100× docs — q_incremental_cc carries the whole cycle
    // (backfill + fold); x_incremental_cc_fold isolates the per-cycle
    // fold, which must track the delta and the touched components,
    // never the corpus-wide fixpoint
    "q_incremental_cc", "x_incremental_cc_fold",
    // round-16: DSIR at the 100× tier — two linear scans + a 64-row
    // broadcast + fixed top-k, expected ≲ 100. (q_semdedup is
    // deliberately NOT here: its pair count is Σ C(n_b,2) ≈ n^1.5 at
    // k = √n BY DESIGN — Abbas et al.'s own bound — so a 100×-tier
    // wall ratio would read ~100^1.5/100 = 10× over linear and
    // measure the published law, not an implementation property; the
    // 10× family entry plus the census cand/row slope gate (≈√10 per
    // tier) are its scale accounting.)
    "q_dsir_select",
    // round-17 (VERDICT r16 item 5): the text-retrieval serving path
    // at the 100× tier — BM25 top-k, bigram-LM perplexity scoring,
    // and hybrid RRF fusion are all aggregate/top-k shaped (every leg
    // rank-cuts before any join), so the 100× ratio must be
    // near-linear-scan-bound; 10× evidence existed, this closes the
    // tier gap
    "q_bm25_topk", "q_lm_score", "q_hybrid_rrf",
    // round-18 (VERDICT r17 item 4): the learned-mixture capstone at
    // the 100× tier — the full chain (token-scan model, 5 RNG-free
    // update rounds on the driver model, count pass, group-limit rank
    // cut to the FIXED 300-doc budget) must price as the scans
    "q_doremi_mix")

  /** Rehearsal-only queries: same operators as their q_* siblings, but
    * with the SCALING side as the probe/target so the 10× ratio
    * measures engine cost, not a fixed dimension.
    */
  private val Extra: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MERGE INTO at scale: orders lands partitioned by priority, then
    // one MERGE carries UPDATE (10% of keys), DELETE (2%), and INSERT
    // (5% new keys) — the copy-on-write group machinery q_sql_merge
    // proves correct, here cost-certified at 10× rows
    "x_sql_merge" -> { (s, dir) =>
      val orders = graft.Tables.orders(s, dir)
      orders.createOrReplaceTempView("x_ord_src")
      Fixtures.land(s, "xmg", dir)(("orders", "o_orderpriority", orders))
      s.sql(
        """CREATE OR REPLACE TEMP VIEW x_merge_src AS
          |SELECT o_orderkey AS k, o_totalprice * 1.1 AS np,
          |       o_orderkey % 50 = 1 AS del
          |FROM x_ord_src WHERE o_orderkey % 10 < 2
          |UNION ALL
          |SELECT -o_orderkey AS k, o_totalprice AS np, false AS del
          |FROM x_ord_src WHERE o_orderkey % 20 = 3""".stripMargin)
      s.sql(
        """MERGE INTO wh_xmg.mart.orders t USING x_merge_src s
          |ON t.o_orderkey = s.k
          |WHEN MATCHED AND s.del THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.np
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
          |  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
          |  VALUES (s.k, 0, 'X', s.np, TIMESTAMP'2099-01-01 00:00:00',
          |    '9-NEW')"""
          .stripMargin)
      s.sql("SELECT count(*) AS n FROM wh_xmg.mart.orders")
    },
    // the SAME merge shape through the merge-on-read SQL path
    // (spark.graft.dml.mode=mor, WriteDelta): bucket(8) layout so the
    // matched keys scatter across every group, REQUIREs originals
    // byte-identical — the pair (x_sql_merge, x_sql_mor) is the
    // CoW-vs-MoR cost comparison at each tier
    "x_sql_mor" -> { (s, dir) =>
      val orders = graft.Tables.orders(s, dir)
      orders.createOrReplaceTempView("y_ord_src")
      val wh = Fixtures.land(s, "xmor", dir)(
        ("orders", "bucket(8, o_orderkey)", orders))
      s.sql(
        """CREATE OR REPLACE TEMP VIEW y_merge_src AS
          |SELECT o_orderkey AS k, o_totalprice * 1.1 AS np,
          |       o_orderkey % 50 = 1 AS del
          |FROM y_ord_src WHERE o_orderkey % 10 < 2
          |UNION ALL
          |SELECT -o_orderkey AS k, o_totalprice AS np, false AS del
          |FROM y_ord_src WHERE o_orderkey % 20 = 3""".stripMargin)
      val (_, w) = Fixtures.writeShape(s, wh.tableRoot("orders"))(
        withConf(s, ModeKey -> "mor")(s.sql(
          """MERGE INTO wh_xmor.mart.orders t USING y_merge_src s
            |ON t.o_orderkey = s.k
            |WHEN MATCHED AND s.del THEN DELETE
            |WHEN MATCHED THEN UPDATE SET o_totalprice = s.np
            |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey,
            |  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
            |  VALUES (s.k, 0, 'X', s.np, TIMESTAMP'2099-01-01 00:00:00',
            |    '9-NEW')"""
            .stripMargin)))
      require(w.untouched,
        "x_sql_mor: merge-on-read MERGE must not rewrite data files")
      require(w.after.dvs.nonEmpty, "x_sql_mor: expected position deletes")
      s.sql("SELECT count(*) AS n FROM wh_xmor.mart.orders")
    },
    // literal-map dictGet probed by the scaling fact side: the J6
    // in-projection lookup must cost O(rows), broadcast-shipped once
    "x_dict_probe" -> { (s, dir) =>
      val prio = graft.Tables.orders(s, dir)
        .select(col("o_orderpriority")).distinct()
        .withColumn("rank", substring(col("o_orderpriority"), 1, 1))
      val dict = graft.operators.Dict.asMap(prio, "o_orderpriority", "rank")
      graft.Tables.orders(s, dir)
        .select(graft.operators.Dict
          .dictGet(dict, col("o_orderpriority"), lit("?")).as("rank"))
        .groupBy(col("rank")).count().orderBy(col("rank"))
    },
    // round-11 (VERDICT r10 item 6): token-budget mix under DOMAIN
    // SKEW — ~95% of documents collapse into ONE domain, the
    // straggler case for the per-domain rank window. The budget is
    // FIXED, so the map-side WindowGroupLimit prune (rank ≤ maxB,
    // every row ≥ 1 token) bounds the hot domain's reduce-side input
    // at tasks×maxB rows regardless of corpus size — the measured
    // ratio must track the linear scan, not the hot domain
    "x_token_budget_skew" -> { (s, dir) =>
      import graft.functions.Text
      val docs = graft.Tables.documents(s, dir)
        .withColumn("n_tok", size(Text.tokens(col("text"))).cast("long"))
        .withColumn("dom",
          when(pmod(col("doc_id"), lit(20L)) < 19, lit("bulk"))
            .otherwise(lit("rare")))
      graft.operators.Mix.tokenBudget(
          docs, col("dom"), col("doc_id"), col("n_tok"),
          weights = Map("bulk" -> 0.9, "rare" -> 0.1),
          totalTokens = 100000L)
        .groupBy(col("dom"))
        .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("toks"))
        .orderBy(col("dom"))
    },
    // round-11 (VERDICT r10 item 5): the incremental-CC FOLD alone.
    // q_incremental_cc's oracle gate necessarily rebuilds the base
    // labeling inside the query, so its ratio mixes the one-time
    // backfill with the per-cycle cost; here the standing labels and
    // the delta edge set are prepared ONCE per dir (reading them back
    // is part of a real cycle — a production fold starts from stored
    // assignments), and the timed passes measure what a 100 TB corpus
    // pays EVERY ingest: two narrow joins over the labeling plus a
    // fixpoint on the delta-sized reduced graph
    "x_incremental_cc_fold" -> { (s, dir) =>
      import graft.queries.TextQueries
      // the one-time prep (base labeling + delta edge set) is ALSO
      // triggered from main's warm-up loop, so every TIMED pass of
      // this entry measures the fold alone (a prep inside the first
      // timed pass would record as that cell's _max and read as a
      // host-contention window under the spread protocol)
      val (lblPath, edgePath) = TextQueries.ccFoldPrep(s, dir)
      val incoming = graft.Tables.documents(s, dir)
        .filter(col("doc_id") % 5 === 0)
      graft.operators.Components.connectedIncremental(
        s.read.parquet(lblPath), "doc_id", "component",
        incoming.select(col("doc_id")),
        s.read.parquet(edgePath), "d1", "d2")
    },
    // round-17 (VERDICT r16 item 3): q_dsir_select at 2^16 hashed
    // buckets — the paper's estimator width (Xie et al. use 10^4–10^6
    // hashed buckets; 64 is the oracle fixture size). Same two-pass
    // shape, and DsirSpec pins the wide stats stay a LOCAL broadcast
    // relation with a BroadcastHashJoin scoring join
    "x_dsir_wide" -> { (s, dir) =>
      graft.operators.Dsir.select(
        graft.Tables.documents(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en", k = 200, buckets = 1 << 16)
    },
    // round-18 (VERDICT r17 item 4): q_domain_reweight at 2^16 hashed
    // buckets — the D·buckets driver collect at realistic width
    // (5 langs × 65,536 = ≤327k model rows, recorded per run as
    // doremi_model_rows); the corpus cost stays the one token scan
    "x_doremi_wide" -> { (s, dir) =>
      graft.operators.Doremi.reweight(
        graft.Tables.documents(s, dir), "lang", "text", buckets = 1 << 16)
    },
    // round-17 (VERDICT r16 item 8): the streaming-DSIR drain — 10
    // trickle batches over the tier's documents, frozen-model scoring
    // per batch, O(corpus) model refresh at the 5-batch cadence
    // (per-fold/refresh seconds land in RunMetrics:
    // stream_dsir_fold_b* / stream_dsir_refresh_v*)
    "x_stream_dsir" -> { (s, dir) =>
      val srcDir = Fixtures.path("x_stream_dsir_src", dir)
      // pinned per-slice mod-times fix the file->batch order (ADVICE
      // r17: slices written in quick succession can share an mtime
      // tick, making the frozen-model composition across the timed
      // passes nondeterministic — the q_stream_dsir fixture device)
      feed(s, srcDir, 10, pinMtimes = true)(byDocMod(dsirDocs(s, dir), 10))
      graft.streaming.Streams.dsirStream(
        graft.streaming.Streams.fileFeed(s, srcDir), "doc_id", "text", "tgt",
        Fixtures.fresh("x_stream_dsir_state"), Fixtures.fresh("x_stream_dsir_ckpt"),
        refreshEvery = 5)
    },
    "x_skew_spj_full" -> (skewSpj(partial = false)(_, _)),
    "x_skew_spj_partial" -> (skewSpj(partial = true)(_, _)),
    "x_mor_trickle_full" -> (morTrickle(pruned = false)(_, _)),
    "x_mor_trickle_pruned" -> (morTrickle(pruned = true)(_, _)),
    // merge-on-read CDC apply probed by a scattered replay batch:
    // snapshot = full-log latest-per-key state in a bucket(16) table;
    // the batch updates 1/5 of the LIVE keys and tombstones another
    // 1/10 — keys drawn from the snapshot itself, so matches are
    // guaranteed at every tier (unlike a range split of the
    // copy-scaled log, whose halves share no keys). REQUIREs the MoR
    // cost shape, then reads the merged table back (the anti-join
    // read is part of the measured cost).
    "x_cdc_mor" -> { (s, dir) =>
      import graft.sources.TxTable
      import graft.streaming.Cdc
      val feed = graft.Tables.events(s, dir).select(
        col("user_id"), col("value").as("amount"),
        col("event_id").as("lsn"),
        when(col("event_type") === "error", Cdc.Op.Delete)
          .when(col("event_type") === "signup", Cdc.Op.Insert)
          .otherwise(Cdc.Op.Update).as("op"))
      val keys = Seq("user_id"); val data = Seq("amount")
      val maxLsn = feed.agg(max(col("lsn"))).head.getLong(0)
      val snapshot = Cdc.apply(
        Cdc.emptyTarget(feed, keys, data), feed, keys, data)
      val root = Fixtures.path("x_cdc_mor", dir)
      TxTable.create(snapshot, root, Some("bucket(16,user_id)"))
      val batch = snapshot
        .filter(pmod(col("user_id"), lit(5L)) === 3)
        .select(col("user_id"), (col("amount") * 0.5).as("amount"),
          (col("last_lsn") + maxLsn).as("lsn"),
          lit(Cdc.Op.Update).as("op"))
        .unionByName(snapshot
          .filter(pmod(col("user_id"), lit(10L)) === 4)
          .select(col("user_id"), col("amount"),
            (col("last_lsn") + maxLsn).as("lsn"),
            lit(Cdc.Op.Delete).as("op")))
      val (_, w) = Fixtures.writeShape(s, root)(
        Cdc.applyTxMor(s, root, batch, keys, data))
      require(w.untouched,
        "x_cdc_mor: merge-on-read apply must not rewrite data files")
      require(w.masked > 0,
        "x_cdc_mor: expected position deletes")
      TxTable.read(s, root)
    },
    // round-12 (VERDICT r11 item 4): DV-HEAVY merge-on-read read-back.
    // One mor DELETE drops 80% of orders as position deletes (12M
    // positions at the sf1 tier — past the former 10M driver cap,
    // which refused this exact shape); the timed pass is the scan that
    // now loads each file's skip list EXECUTOR-side from the DV
    // parquet (file_key-filtered), so the read must track the tier
    // linearly with no driver bottleneck
    "x_mor_dv_heavy" -> { (s, dir) =>
      ensureDvHeavy(s, dir)
      s.sql(
        """SELECT COUNT(*) AS n,
          |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
          |FROM wh_dvh.mart.orders""".stripMargin)
    },
    // round-13 (VERDICT r12 item 2's memory evidence): a mor DML's
    // delta SCAN over the heavy table — unlike the SELECT above (which
    // merges DVs with a distributed anti-join), the row-level scan
    // loads EVERY file's ~80%-deleted skip list executor-side, which
    // is exactly the shape that cost 8 B/position as a raw Array[Long]
    // and is now a PosBitmap (~1 bit/slot dense). The reader records
    // the heaviest file's position count and retained bytes
    // (dv_file_positions_max / dv_file_bitmap_bytes_max → the
    // artifact's dv_bitmap section); the no-match DELETE commits
    // nothing, so passes are identical.
    "x_mor_dv_heavy_dml" -> { (s, dir) =>
      ensureDvHeavy(s, dir)
      withConf(s, ModeKey -> "mor")(
        s.sql("DELETE FROM wh_dvh.mart.orders WHERE o_totalprice < 0"))
      s.sql(
        """SELECT COUNT(*) AS n
          |FROM wh_dvh.mart.orders WHERE o_orderkey % 97 = 0""".stripMargin)
    },
    // round-12: TRICKLE-HISTORY read-back — 32 scattered mor DELETEs
    // (8 keys each) leave 32 small DV files behind; the timed pass is
    // the full-table scan that, with the manifest's covered-key lists,
    // hands each of the 64 bucket partitions only the DV files that
    // actually touch it (~4) instead of a footer probe for all 32 —
    // the read-side certification of DvEntry.keys under a long DML
    // history. Keys live in [1, 600000] (the sf0.1 domain every tier
    // contains), so the deleted set is FIXED while the table grows.
    // round-13 (VERDICT r12 item 7): IVF query-only cycles against a
    // STORED index — prep trains the centroids on the tier's own
    // embeddings and materializes the assigned corpus (bucket ids +
    // norms) to parquet once per (JVM, dir); the timed pass reads the
    // index back and runs probing + candidate join + exact-cosine
    // top-5 for the fixed query slice. Under the min-over-passes
    // protocol each cell is a pure query cycle: near-flat across
    // passes, and the tier ratio is the candidate join's share
    // (~corpus × nprobe / k), never re-training or re-assignment.
    "x_ivf_query_only" -> { (s, dir) =>
      import graft.operators.Ivf
      val idxPath = Fixtures.path("ivf_idx", dir)
      val cents = Fixtures.once(idxPath) {
        val emb = graft.Tables.embeddings(s, dir)
        val cents = Ivf.trainCentroids(
          emb, "embedding", Ivf.adaptiveNlist(emb.count()))
        Ivf.assignCorpus(emb, "vec_id", "embedding", cents)
          .write.mode("overwrite").parquet(idxPath)
        cents
      }
      Ivf.annTopKAssigned(
        s.read.parquet(idxPath),
        graft.Tables.embeddings(s, dir).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, cents, nprobe = 4)
    },
    // round-15 (VERDICT r14 item 4): IVF-PQ query-only cycles against
    // a STORED compressed index — prep trains centroids + codebooks on
    // the tier's own embeddings and materializes (neighbor_id, bucket,
    // code) to parquet once per (JVM, dir); the timed pass reads the
    // m-ints-per-vector index back and runs probing + ADC-LUT scoring
    // + top-5 for the fixed query slice, cand_ivfpq censused per run
    "x_pq_query_only" -> { (s, dir) =>
      import graft.operators.{Ivf, Pq}
      val idxPath = Fixtures.path("pq_idx", dir)
      val (cents, cb) = Fixtures.once(idxPath) {
        val emb = graft.Tables.embeddings(s, dir)
        val cents = Ivf.trainCentroids(
          emb, "embedding", Ivf.adaptiveNlist(emb.count()))
        val cb = Pq.trainCodebooks(emb, "embedding", m = 8, ksub = 64)
        Pq.assignCorpusPq(emb, "vec_id", "embedding", cents, cb)
          .write.mode("overwrite").parquet(idxPath)
        (cents, cb)
      }
      Pq.annTopKPqAssigned(
        s.read.parquet(idxPath),
        graft.Tables.embeddings(s, dir).filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, cents, cb, nprobe = 4)
    },
    // round-15 (VERDICT r14 item 7): the executor-side k-means trainer
    // run through the AUTO split with a forced tiny cap — the branch a
    // >16M-vector corpus takes. FIXED k = 256 across tiers so the
    // ratio prices the distributed passes' linear corpus scaling
    // (adaptive k would fold √n growth into the ratio); the returned
    // frame is the trained model itself
    "x_ivf_train_dist" -> { (s, dir) =>
      import graft.operators.Ivf
      import s.implicits._
      val emb = graft.Tables.embeddings(s, dir)
      val cents = Ivf.trainCentroidsAuto(
        emb, "embedding", k = 256, n = emb.count(), capVectors = 1L)
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("cid", "c")
    },
    // round-13 (VERDICT r12 item 3): four wide mor MERGEs (each task's
    // DV covering >64 of 256 bucket files → DvBloom entries), then a
    // timed full-table delta scan (no-match mor DELETE) whose per-file
    // DV probe list the blooms scope to ~statement coverage instead of
    // all 8 DV files. Keys live in [1, 600000] (the sf0.1 domain every
    // tier contains), so the DV geometry is FIXED while the table
    // grows — the tier ratio prices the scoped scan, not the DML.
    "x_mor_dv_wide" -> { (s, dir) =>
      import graft.sources.TxTable
      val wh = Fixtures.warehouse(s, "dvw", dir)
      Fixtures.once(wh.root) {
        Fixtures.land(s, "dvw", dir)(
          ("orders", "bucket(256, o_orderkey)", graft.Tables.orders(s, dir)))
        // ONE writer task per statement covering ~175 of 256 buckets
        // (orderkeys are ~25% dense, so 1200 candidates match ~300) —
        // far past DvKeyCap, forcing the bloom path
        withConf(s, ModeKey -> "mor",
          "spark.sql.shuffle.partitions" -> "1",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          (0 until 4).foreach { r =>
            val keys = (0 until 1200).map(j => 1 + r * 131 + j * 499)
            s.sql(
              s"""MERGE INTO wh_dvw.mart.orders t
                 |USING (SELECT explode(array(${keys.mkString(",")})) AS k) src
                 |ON t.o_orderkey = src.k
                 |WHEN MATCHED THEN DELETE""".stripMargin)
          }
        }
        val snap = TxTable.currentSnapshot(s, wh.tableRoot("orders")).get
        require(snap.dvs.nonEmpty && snap.dvs.forall(d =>
            d.bloom.isDefined && d.keys.isEmpty),
          s"x_mor_dv_wide: expected bloom-scoped wide DV entries, got " +
            s"${snap.dvs.map(d => (d.keys.size, d.bloom.isDefined))}")
      }
      // timed: full delta scan through the wide DVs (no-match DELETE —
      // nothing commits, so passes are identical); the probe ratio is
      // measured as a DELTA so this entry never resets the registry
      def cell(k: String) = RunMetrics.snapshot.getOrElse(k, 0.0)
      val (p0, f0) = (cell("dv_files_probed"), cell("dv_scan_files"))
      withConf(s, ModeKey -> "mor")(
        s.sql("DELETE FROM wh_dvw.mart.orders WHERE o_totalprice < 0"))
      val (p1, f1) = (cell("dv_files_probed"), cell("dv_scan_files"))
      val snap = TxTable.currentSnapshot(s, wh.tableRoot("orders")).get
      val ratio = (p1 - p0) / math.max(f1 - f0, 1.0)
      require(ratio < 0.8 * snap.dvs.size,
        s"x_mor_dv_wide: bloom scoping must beat unknown coverage " +
          s"(${snap.dvs.size} probes/file): got $ratio")
      s.sql(
        """SELECT COUNT(*) AS n,
          |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
          |FROM wh_dvw.mart.orders""".stripMargin)
    },
    "x_mor_dv_trickle_read" -> { (s, dir) =>
      import graft.sources.TxTable
      val wh = Fixtures.warehouse(s, "dvt", dir)
      Fixtures.once(wh.root) {
        Fixtures.land(s, "dvt", dir)(
          ("orders", "bucket(64, o_orderkey)", graft.Tables.orders(s, dir)))
        withConf(s, ModeKey -> "mor") {
          (0 until 32).foreach { i =>
            val keys = (0 until 8).map(j => 1 + i * 977 + j * 31261)
            s.sql("DELETE FROM wh_dvt.mart.orders " +
              s"WHERE o_orderkey IN (${keys.mkString(",")})")
          }
        }
        val snap = TxTable.currentSnapshot(s, wh.tableRoot("orders")).get
        require(snap.dvs.size >= 32,
          s"x_mor_dv_trickle_read: expected >=32 DV files, got ${snap.dvs.size}")
        require(snap.dvs.forall(_.keys.nonEmpty),
          "x_mor_dv_trickle_read: trickle DV entries must carry key lists")
      }
      s.sql(
        """SELECT COUNT(*) AS n,
          |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
          |FROM wh_dvt.mart.orders""".stripMargin)
    })

  // Build-once tables: each entry lands its tables once per (JVM,
  // dir) in its own per-dir warehouse, `Fixtures.once` keyed by that
  // warehouse, and registers the catalog on every call — GraftCatalog
  // re-reads its warehouse from the live conf, so the one catalog name
  // re-points to the dir being timed. The first touch of a (pass, dir)
  // cell pays the build (main's prep loop pays it untimed for the
  // prep-bearing entries); later passes don't, so the min-over-passes
  // numbers are build-free.

  /** Build-once (per dir) skewed co-bucketed pair: fact = orders with
    * every even custkey collapsed onto key 7 (≈half the rows land in
    * ONE of 8 buckets), written in four commits so the hot bucket
    * holds ≥4 files; dim = customer keys, co-bucketed. The join runs
    * under the SPJ confs and REQUIREs a shuffle-free plan in both
    * modes — `partial` adds partiallyClusteredDistribution, the
    * straggler mitigation GraftKeyedScan's per-file splits enable.
    */
  private def skewSpj(partial: Boolean)(
      s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.warehouse(s, "skew", dir)
    Fixtures.once(wh.root) {
      graft.Tables.orders(s, dir).createOrReplaceTempView("x_skew_src")
      def slice(i: Int) =
        s"""SELECT CASE WHEN o_custkey % 2 = 0 THEN CAST(7 AS BIGINT)
           |         ELSE o_custkey END AS k,
           |       o_totalprice AS v
           |FROM x_skew_src WHERE o_orderkey % 4 = $i""".stripMargin
      Fixtures.land(s, "skew", dir)(
        ("fact", "bucket(8, k)", s.sql(slice(0))),
        ("dim", "bucket(8, c_custkey)",
          graft.Tables.customer(s, dir).select("c_custkey", "c_mktsegment")))
      (1 until 4).foreach(i => s.sql(s"INSERT INTO wh_skew.mart.fact ${slice(i)}"))
    }
    withConf(s,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" ->
        partial.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val out = s.sql(
        """SELECT d.c_mktsegment, COUNT(*) AS n,
          |  CAST(SUM(CAST(round(f.v * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM wh_skew.mart.fact f JOIN wh_skew.mart.dim d
          |  ON f.k = d.c_custkey
          |GROUP BY d.c_mktsegment""".stripMargin)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      val joins = out.queryExecution.executedPlan.collect {
        case j: BaseJoinExec => j
      }
      require(joins.nonEmpty &&
        joins.forall(_.collect { case e: ShuffleExchangeLike => e }.isEmpty),
        s"x_skew_spj: expected a shuffle-free co-bucketed join:\n" +
          out.queryExecution.executedPlan)
      // execute INSIDE the conf scope (the grouping of key-grouped
      // splits re-reads session confs at execution time) — the caller
      // counts the 5 materialized rows, the timer still brackets this
      val rows = out.collect().toSeq
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), out.schema)
    }
  }

  /** Build-once (per JVM, dir) DV-heavy table: bucket(8) orders with
    * ~80% of rows position-deleted through the mor path. Shared by
    * x_mor_dv_heavy (SELECT read-back — the anti-join path) and
    * x_mor_dv_heavy_dml (delta-scan read-back — the PosBitmap path)
    * as `wh_dvh.mart.orders`.
    */
  private def ensureDvHeavy(s: SparkSession, dir: String): Unit = {
    import graft.sources.TxTable
    val wh = Fixtures.warehouse(s, "dvh", dir)
    Fixtures.once(wh.root) {
      Fixtures.land(s, "dvh", dir)(
        ("orders", "bucket(8, o_orderkey)", graft.Tables.orders(s, dir)))
      withConf(s, ModeKey -> "mor")(
        s.sql("DELETE FROM wh_dvh.mart.orders WHERE o_orderkey % 5 <> 0"))
      val snap = TxTable.currentSnapshot(s, wh.tableRoot("orders")).get
      require(snap.dvs.map(_.rows).sum * 5 >=
        graft.Tables.orders(s, dir).count() * 4 - 5,
        "x_mor_dv_heavy: expected ~80% of rows as position deletes")
    }
  }

  private var trickleRun = 0

  /** SQL merge-on-read trickle pair: a CONSTANT ~64-key CDC batch
    * merged (mode=mor) into a bucket(256, o_orderkey) orders table —
    * the batch keys live in [1, 600000], the sf0.1 key domain every
    * scaled tier contains, so the batch stays fixed while the table
    * grows. `pruned` keeps [[graft.sources.MorDmlRuntimeFiltering]]'s
    * injected runtime file filter (the scan reads ≤64 of 256
    * buckets); `full` disables it (whole-table scan). Each run merges
    * into a fresh zero-copy CLONE of a built-once master, so the
    * master stays byte-identical across passes and variants and the
    * timed work is exactly clone (metadata) + merge. The returned
    * frame is a 1-row literal — the merge cost is the measurement,
    * not a table re-read.
    */
  private def morTrickle(pruned: Boolean)(
      s: SparkSession, dir: String): DataFrame = {
    val wh = Fixtures.warehouse(s, "trk", dir)
    val keys = Fixtures.once(wh.root) {
      val orders = graft.Tables.orders(s, dir)
      orders.createOrReplaceTempView("zt_src")
      Fixtures.land(s, "trk", dir)(("orders", "bucket(256, o_orderkey)", orders))
      // the batch keys, collected ONCE per dir — the per-run source
      // is a literal VALUES relation, so neither variant pays a
      // table-sized source scan that would mask the pruning gap
      s.sql(
        """SELECT o_orderkey FROM zt_src
          |WHERE o_orderkey BETWEEN 1 AND 600000
          |  AND o_orderkey % 9391 = 1""".stripMargin)
        .collect().map(_.getLong(0)).toSeq
    }
    import s.implicits._
    keys.map(k => (k, 99.0)).toDF("k", "np")
      .createOrReplaceTempView("zt_trickle")
    trickleRun += 1
    val target = s"orders_run$trickleRun"
    // the warehouse persists across processes but the run counter
    // does not — a previous invocation's clone may sit at this name
    s.sql(s"DROP TABLE IF EXISTS wh_trk.mart.$target")
    s.sql(s"CALL wh_trk.system.clone('mart.orders', 'mart.$target')")
    withConf(s, ModeKey -> "mor",
        "spark.graft.dml.morRuntimeFiltering" -> pruned.toString)(s.sql(
      s"""MERGE INTO wh_trk.mart.$target t USING zt_trickle src
         |ON t.o_orderkey = src.k
         |WHEN MATCHED THEN UPDATE SET o_totalprice = src.np"""
        .stripMargin))
    Seq(1).toDF("ok")
  }

  /** The streaming-DSIR feed columns of `dir`'s documents. */
  private def dsirDocs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir).select(
      col("doc_id"), col("text"), (col("lang") === "en").as("tgt"))

  /** Slice `r` of `n` by doc id: the rows with doc_id mod n = r. */
  private def byDocMod(df: DataFrame, n: Int)(r: Int): DataFrame =
    df.filter(pmod(col("doc_id"), lit(n.toLong)) === r)

  /** A streaming file feed under `srcDir`: slice r of `slices` as ONE
    * parquet file in `f=r`, written once — a `_DONE` marker makes later
    * runs reuse it. `pinMtimes` sets slice r's mod-time to a fixed
    * base + r minutes, so the file->batch order is deterministic.
    */
  private def feed(s: SparkSession, srcDir: String, slices: Int,
      pinMtimes: Boolean)(slice: Int => DataFrame): Unit = {
    val done = new Path(s"$srcDir/_DONE")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      (0 until slices).foreach { r =>
        slice(r).coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f=$r")
        if (pinMtimes)
          fs.listStatus(new Path(s"$srcDir/f=$r")).filter(_.isFile)
            .foreach(f => fs.setTimes(f.getPath, 1600000000000L + r * 60000L, -1))
      }
      fs.create(done, true).close()
    }
  }

  /** Corpus rows through batch b of a mod-`n` doc feed (the rows of
    * slices 0..b) — the denominator of the slope gates.
    */
  private def rowsThrough(s: SparkSession, srcDir: String, n: Int): Long => Long = {
    val sliceRows = s.read.option("recursiveFileLookup", "true")
      .parquet(srcDir)
      .groupBy(pmod(col("doc_id"), lit(n.toLong)).as("r")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    b => (0L to b).map(r => sliceRows.getOrElse(r, 0L)).sum
  }

  /** The RunMetrics cells of `m` whose key starts with `prefix`. */
  private def cells(m: Map[String, Double], prefix: String): Map[String, Double] =
    m.filter(_._1.startsWith(prefix))

  /** Per-event census JSON: `"v<point>":{sec, rows, sec_per_mrow}`. */
  private def eventsJson(events: Seq[(Long, Double, Long)]): String =
    events.map { case (v, sec, rows) =>
      f""""v$v":{"sec":$sec%.3f,"rows":$rows,""" +
        f""""sec_per_mrow":${sec / rows * 1e6}%.2f}"""
    }.mkString(",")

  /** Slope gate over (point, sec, corpus rows at the point) events: an
    * O(corpus) step amortized by cadence must keep its NORMALIZED cost
    * (sec per corpus row) flat-or-falling in drain position — its
    * constant term amortizes into a growing denominator, so the FIRST
    * event bounds the rest; growth past 1.5x of the first says the step
    * turned superlinear in the corpus (the r14 debt-accretion class).
    */
  private def slopeGate(what: String, events: Seq[(Long, Double, Long)]): Unit = {
    val norm = events.sortBy(_._1)
      .map { case (v, sec, rows) => (v, sec / math.max(rows, 1L)) }
    norm.drop(1).foreach { case (v, nv) =>
      require(nv <= norm.head._2 * 1.5,
        f"$what slope gate: v$v at ${nv * 1e6}%.2f s/Mrow " +
          f"vs first event ${norm.head._2 * 1e6}%.2f s/Mrow (> 1.5x)")
    }
  }

  private val sec3: Double => String = v => f"$v%.3f"
  private val whole: Double => String = v => s"${v.round}"

  /** A per-batch metric map as a JSON object ordered by the id that
    * ends each key (`…_b<id>`, `…_v<id>`), keys without `stripPrefix`.
    */
  private def mapJson(
      m: scala.collection.Map[String, Double], stripPrefix: String,
      fmt: Double => String): String =
    m.toSeq.sortBy(_._1.dropWhile(!_.isDigit).toLong)
      .map { case (k, v) => s""""${k.stripPrefix(stripPrefix)}":${fmt(v)}""" }
      .mkString("{", ",", "}")

  private def queryOf(name: String): (SparkSession, String) => DataFrame =
    Extra.getOrElse(name, SparkEntry.queries(name))

  private val Copies = 10
  private val IdStride = 10000000L

  def scaleUp(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // marker versioned: v2 added the fixed dim tables (part/supplier/
    // nation/region) — an sf1 dir built by an older round rebuilds
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_DONE_v2"))) return
    val copies = spark.range(0, Copies).select(col("id").as("__copy"))

    // documents: token-suffix rewrite keeps each copy's shingle
    // geometry identical to sf0.1 while making copies' gram spaces
    // disjoint (suffixing is injective on tokens)
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .crossJoin(copies)
      .select(
        (col("doc_id") + col("__copy") * IdStride).as("doc_id"),
        when(col("__copy") === 0, col("text"))
          .otherwise(array_join(
            transform(
              filter(split(trim(col("text")), "\\s+"), t => t =!= ""),
              t => concat(t, col("__copy").cast("string"))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
    docs.repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    // embeddings: circular dimension rotation by the copy index — a
    // fixed permutation per copy, so every intra-copy inner product
    // (and with it the neighbor structure) is bit-preserved
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    emb.crossJoin(copies)
      .select(
        (col("vec_id") + col("__copy") * IdStride).as("vec_id"),
        when(col("__copy") === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), col("__copy").cast("int") + 1,
              lit(dim) - col("__copy").cast("int")),
            slice(col("embedding"), lit(1), col("__copy").cast("int"))))
          .as("embedding"),
        col("label"))
      .repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    // events: offset LSN space and key space per copy — 10× log over
    // 10× keys (ts stays raw nanos-long, exactly as stored)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    ev.crossJoin(copies)
      .select(
        (col("event_id") + col("__copy") * IdStride).as("event_id"),
        (col("user_id") + col("__copy") * IdStride).as("user_id"),
        col("ts"), col("event_type"), col("value"))
      .repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")

    // orders/lineitem: order-key space offset per copy so the fact/dim
    // join structure (q_bloom_join) and per-order line multiplicity
    // are preserved exactly; custkey/date distributions stay UNCHANGED
    // so predicate selectivity fractions (q_zorder_skip) carry over
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    ord.crossJoin(copies)
      .select(
        (col("o_orderkey") + col("__copy") * IdStride).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    li.crossJoin(copies)
      .select(
        (col("l_orderkey") + col("__copy") * IdStride).as("l_orderkey") +:
          li.columns.filter(_ != "l_orderkey").map(col): _*)
      .repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")

    // dimensions stay FIXED while facts grow 10× — the realistic
    // fact/dim scale shape; every order keeps exactly one matching
    // customer, so join output scales with the fact side. part/
    // supplier/nation/region feed the lookup-cascade rehearsal the
    // same way: fixed broadcast builds, 10× probe.
    Seq("customer", "part", "supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .repartition(4).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
    }

    fs.create(new org.apache.hadoop.fs.Path(s"$outDir/_DONE_v2"), true).close()
  }

  /** 100×-tier inputs: 100 deterministic copies of sf0.1, built with
    * the same geometry-preserving transforms as [[scaleUp]], directly
    * from sf0.1 (not 10× of sf1 — two suffixing levels could collide
    * tokens across copies). Only the tables [[Family100]] reads are
    * written (orders, lineitem, customer + fixed dims, documents,
    * embeddings) — ~60M lineitem / 15M orders rows, the max-feasible
    * single-box tier the sandbox holds comfortably.
    *
    *  - documents: token suffix is FIXED-WIDTH (`xNN`), so suffixed
    *    tokens are injective across all 99 suffixed copies (equal
    *    length ⇒ t1+s1 = t2+s2 iff t1=t2 ∧ s1=s2); per-copy shingle
    *    geometry is sf0.1's exactly, vocabulary grows 100×.
    *  - embeddings: dimension rotation by copy%64 — copies ≥64 reuse
    *    rotations (64 distinct permutations), which preserves every
    *    intra-copy cosine (the measured neighborhood structure) and
    *    only raises cross-copy coincidences for the handful of
    *    copy pairs 64 apart.
    *  - orders/lineitem: order-key offset per copy, custkey/date
    *    distributions unchanged (same join fan-out and predicate
    *    selectivity fractions as sf0.1, 100× the rows).
    */
  def scaleUp100(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_DONE_v1"))) return
    val n = 100
    val copies = spark.range(0, n).select(col("id").as("__copy"))

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .crossJoin(copies)
      .select(
        (col("doc_id") + col("__copy") * IdStride).as("doc_id"),
        when(col("__copy") === 0, col("text"))
          .otherwise(array_join(
            transform(
              filter(split(trim(col("text")), "\\s+"), t => t =!= ""),
              t => concat(t, lit("x"),
                lpad(col("__copy").cast("string"), 2, "0"))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    emb.crossJoin(copies)
      .select(
        (col("vec_id") + col("__copy") * IdStride).as("vec_id"),
        when(col("__copy") % dim === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), (col("__copy") % dim).cast("int") + 1,
              lit(dim) - (col("__copy") % dim).cast("int")),
            slice(col("embedding"), lit(1), (col("__copy") % dim).cast("int"))))
          .as("embedding"),
        col("label"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    ord.crossJoin(copies)
      .select(
        (col("o_orderkey") + col("__copy") * IdStride).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    li.crossJoin(copies)
      .select(
        (col("l_orderkey") + col("__copy") * IdStride).as("l_orderkey") +:
          li.columns.filter(_ != "l_orderkey").map(col): _*)
      .repartition(64).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")

    Seq("customer", "part", "supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .repartition(4).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
    }
    fs.create(new org.apache.hadoop.fs.Path(s"$outDir/_DONE_v1"), true).close()
  }

  def main(args: Array[String]): Unit = {
    // Optional args = rehearsal-entry subset: identical protocol over
    // just those entries, for targeted attribution runs (e.g. one
    // 100×-tier query under two heap sizes). No args → full families
    // and the artifact file; subset runs print the JSON but never
    // overwrite the artifact, and skip the manifest_wide and census
    // sections.
    val subset: Option[Set[String]] =
      if (args.isEmpty) None else Some(args.toSet)
    subset.foreach { s =>
      val unknown = s -- (Family ++ Family100).toSet -
        "x_stream_cc_drain40" - "x_stream_cc_crossover" -
        "x_stream_dsir_drain40"
      require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    }
    def picked(family: Seq[String]): Seq[String] =
      family.filter(n => subset.forall(_(n)))
    val spark = graft.Session()

    val sf01 = "/root/testdata/sf0.1"
    val sf1 = "target/sf1"
    val sf10 = "target/sf10"
    // a subset run builds only the tiers its entries read
    if (picked(Family).nonEmpty || subset.forall(_("x_stream_cc_crossover")))
      scaleUp(spark, sf01, sf1)
    if (picked(Family100).nonEmpty) scaleUp100(spark, sf01, sf10)

    // JVM/codegen warm-up on the small sf0.001 dir beside sf0.1, like
    // Bench. x_mor_dv_wide is left out: its fixed key domain
    // [1, 600000] is the sf0.1 domain, which sf0.001 does not hold, so
    // its own bloom check fails there; the untimed prep below warms it
    // on the tiers it is timed at.
    val warmDir = s"${new java.io.File(sf01).getParent}/sf0.001"
    (picked(Family) ++ picked(Family100)).distinct
      .filterNot(_ == "x_mor_dv_wide").foreach { name =>
        Exec.warm(spark, name, warmDir)(queryOf(name)) }
    // trigger the prep-bearing entries' one-time builds (stored
    // labeling + delta edges, DV-heavy tables, trickle DML histories)
    // UNTIMED for every dir they will be timed at, so all timed
    // passes measure the steady-state cost only — a prep inside the
    // first timed pass would record as that cell's _max and read as a
    // host-contention window under the spread protocol (ADVICE r11)
    val prepBearing =
      Seq("x_incremental_cc_fold", "x_mor_dv_heavy", "x_mor_dv_heavy_dml",
        "x_mor_dv_trickle_read", "x_mor_dv_wide", "x_ivf_query_only",
        "x_pq_query_only")
    val prepRuns =
      prepBearing.filter(picked(Family).contains).flatMap(n =>
        Seq((n, sf01), (n, sf1))) ++
      prepBearing.filter(picked(Family100).contains).flatMap(n =>
        Seq((n, sf01), (n, sf10)))
    prepRuns.distinct.foreach { case (name, dir) =>
      Exec.warm(spark, name, dir)(queryOf(name)) }

    // pass-interleaved so a steal burst can't poison all passes of
    // the same (query, dir) cell. Every pass's time is KEPT: the
    // artifact records min/med/max per cell (VERDICT r9 item 6 — a
    // single-pass-min ratio drifted 34.6→44.2× across rounds on
    // untouched code; the spread makes host variance visible instead
    // of leaving ratio movement to attribution)
    val Passes = 3
    val times = scala.collection.mutable
      .Map.empty[(String, String), List[Double]]
    // per-cell model-size evidence (VERDICT r17 item 4): entries whose
    // operator records its driver-collect size via RunMetrics get the
    // number attached to their tier cell — the D·buckets bound as an
    // artifact row, not a comment
    val cellRows = scala.collection.mutable.Map.empty[(String, String), Long]
    val cellRowKeys = Map("x_doremi_wide" -> "doremi_model_rows")
    // the Family cells never reset the registry: the dv_bitmap section
    // and x_mor_dv_wide's probe delta read what earlier cells recorded
    def run(pass: Int, tag: String, dir: String, name: String): Unit = {
      cellRowKeys.get(name).foreach(k => RunMetrics.put(k, 0.0))
      val (n, dt) = Exec.timed(spark)(queryOf(name)(spark, dir))
      val k = (name, tag)
      times(k) = dt :: times.getOrElse(k, Nil)
      cellRowKeys.get(name).foreach { key =>
        cellRows(k) = RunMetrics.snapshot.getOrElse(key, 0.0).round }
      println(f"pass $pass $tag $name%-20s ${dt}%8.2fs rows=$n")
    }
    // one streaming drain of `srcDir`, one file per micro-batch:
    // `query` builds the stream from the source; the clock covers the
    // drain only
    def timedDrain(srcDir: String)(
        query: DataFrame => DataFrame): (Long, Double) = {
      RunMetrics.flushAndReset(spark)
      val src = graft.streaming.Streams.fileFeed(spark, srcDir)
      Exec.timed(spark)(query(src))
    }
    // serving-path read pricing (VERDICT r15 item 7): between
    // compactions every consumer of a table-mode labeling pays the
    // sidecar overlay (window + anti-join + union against the table) —
    // time a full read of the labeling after each fold, so the
    // compactEvery knob has a measured READ-side term next to the
    // write-side fold cost. Run from clusterStream's afterBatch, i.e.
    // outside the fold timings, so it never pollutes the flatness
    // evidence.
    def timeLabelsRead(stateDir: String, batchId: Long): Unit = {
      val t0 = System.nanoTime()
      Exec.materialize(graft.streaming.Streams.clusterLabels(
        spark, stateDir, "doc_id", labelsAsTable = true))
      RunMetrics.put(s"stream_cc_read_b$batchId", (System.nanoTime() - t0) / 1e9)
    }
    val dirs = Seq("sf0.1" -> sf01, "sf1" -> sf1)
    for (pass <- 1 to Passes; (tag, dir) <- dirs; name <- picked(Family))
      run(pass, tag, dir, name)
    // 100× tier: sf0.1 cells for its queries were measured above when
    // shared with Family; measure the rest plus the sf10 tier
    for (pass <- 1 to Passes) {
      for (name <- picked(Family100) if !Family.contains(name))
        run(pass, "sf0.1", sf01, name)
      for (name <- picked(Family100)) run(pass, "sf10", sf10, name)
    }

    // min (steal-resistant headline, same protocol as Bench) plus
    // median/max so the recorded ratio carries its own error bars
    def entry(name: String, hi: String, rowTags: String*): String = {
      def cellJson(tag: String): String = {
        val s = Exec.Spread.of(times((name, tag)))
        f""""${tag}_sec":${s.min}%.3f,"${tag}_med":${s.med}%.3f,"${tag}_max":${s.max}%.3f"""
      }
      val a = Exec.Spread.of(times((name, "sf0.1")))
      val b = Exec.Spread.of(times((name, hi)))
      s""""$name":{${cellJson("sf0.1")},${cellJson(hi)},""" +
        f""""ratio":${b.min / a.min}%.2f,"ratio_med":${b.med / a.med}%.2f""" +
        rowTags.flatMap(t => cellRows.get((name, t))
          .map(r => s""","${t}_model_rows":$r""")).mkString + "}"
    }
    val entries = picked(Family).map(entry(_, "sf1", "sf0.1", "sf1"))
    val entries100 = picked(Family100).map(entry(_, "sf10", "sf10"))
    // per-file DV memory evidence (VERDICT r12 item 2): the delta
    // reader records, for the heaviest file it decoded, the position
    // count and the PosBitmap's retained bytes — x_mor_dv_heavy's ~80%
    // delete at the sf1 tier is exactly the shape that cost 8 B per
    // position as a raw Array[Long]. Snapshot BEFORE the drain section
    // resets the registry.
    val dvStats = RunMetrics.snapshot
      .filter(_._1.startsWith("dv_file_"))
    val dvSection =
      if (dvStats.isEmpty) ""
      else {
        val pos = dvStats.getOrElse("dv_file_positions_max", 0.0).round
        val bytes = dvStats.getOrElse("dv_file_bitmap_bytes_max", 0.0).round
        s""","dv_bitmap":{"file_positions_max":$pos,""" +
          s""""file_bitmap_bytes_max":$bytes,"raw_longs_bytes":${pos * 8}}"""
      }

    // one clusterStream drain of `srcDir` per pass, 2 passes: per-batch
    // fold/compaction/read seconds merge by MIN, write bytes are
    // pass-invariant (same data, same delta), and `sec` is the min
    // drain wall without the diagnostic label reads
    final case class CcDrain(
        sec: Double, dirsMax: Double,
        folds: scala.collection.Map[String, Double],
        compacts: scala.collection.Map[String, Double],
        bytes: scala.collection.Map[String, Double],
        reads: scala.collection.Map[String, Double]) {
      def readsJson: String =
        if (reads.isEmpty) ""
        else s""","reads":${mapJson(reads, "stream_cc_", sec3)}"""
    }
    def ccDrain(srcDir: String, label: String, stateTag: String,
        mode: String, asTable: Boolean): CcDrain = {
      val folds = scala.collection.mutable.Map.empty[String, Double]
      val compacts = scala.collection.mutable.Map.empty[String, Double]
      val bytes = scala.collection.mutable.Map.empty[String, Double]
      val reads = scala.collection.mutable.Map.empty[String, Double]
      var dirsMax = 0.0
      var secMin = Double.MaxValue
      for (pass <- 1 to 2) {
        val (n, dt) = timedDrain(srcDir) { src =>
          val state = Fixtures.fresh(s"x_${stateTag}_state")
          graft.streaming.Streams.clusterStream(
            src, "doc_id", "text", state, Fixtures.fresh(s"x_${stateTag}_ckpt"),
            n = 3, tau = 0.8, bands = 8, rowsPerBand = 4,
            compactEvery = 5, labelsAsTable = asTable,
            afterBatch = b => if (asTable) timeLabelsRead(state, b))
        }
        val got = RunMetrics.snapshot
        val passReads = cells(got, "stream_cc_read_")
        // ADVICE r16: the labels-read pricing runs in table mode only,
        // so the raw wall would include ~40 diagnostic logicalLabels
        // reads the rewrite-mode wall does not — subtract this pass's
        // read seconds so the headline compares the same work across
        // modes (the reads themselves stay recorded per batch)
        secMin = math.min(secMin, dt - passReads.values.sum)
        Exec.minMerge(folds, cells(got, "stream_cc_fold_"))
        Exec.minMerge(compacts, cells(got, "stream_cc_compact_"))
        Exec.minMerge(reads, passReads)
        bytes ++= cells(got, "stream_cc_bytes_")
        dirsMax = cells(got, "stream_cc_dirs_").values.foldLeft(dirsMax)(math.max)
        println(f"pass $pass $label[$mode] ${dt}%8.2fs rows=$n")
      }
      CcDrain(secMin, dirsMax, folds, compacts, bytes, reads)
    }

    // (gate name, (point, sec, corpus rows at the point) events) per
    // O(corpus) drain step, slope-gated after the artifact is written
    val slopeCensus =
      scala.collection.mutable.ArrayBuffer.empty[(String, Seq[(Long, Double, Long)])]

    // 40-batch streaming-cluster drain (VERDICT r12 item 1; extended
    // to 40 batches and per-fold WRITE BYTES by VERDICT r13 item 2):
    // the claim is per-FOLD flatness in BATCH COUNT for BOTH
    // persistences — compaction every 5 batches bounds the standing
    // LSH side at ≤ 1 base + 5 batch directories, and (table mode) the
    // compaction-cadence materialize+vacuum+pruneHistory bounds the
    // labels table's manifest history — so late folds must cost what
    // early folds cost. bytes_b* records each fold's labels write:
    // rewrite mode must show ∝ corpus (grows with the drain), table
    // mode ∝ delta (flat-ish) — the measured form of the mode's
    // reason to exist. One tier (sf0.1): the cross-TIER ratio is
    // q_stream_cc's claim; this entry's axis is drain length.
    // 2 passes, min per fold.
    val drainSection =
      if (!subset.forall(_("x_stream_cc_drain40"))) ""
      else {
        val srcDir = Fixtures.path("x_stream_cc_drain40_src", sf01)
        feed(spark, srcDir, 40, pinMtimes = false)(byDocMod(
          graft.Tables.documents(spark, sf01).select(col("doc_id"), col("text")), 40))
        val rowsAt = rowsThrough(spark, srcDir, 40)
        def drain(mode: String, asTable: Boolean): String = {
          val d = ccDrain(srcDir, "sf0.1 x_stream_cc_drain40", "drain40", mode, asTable)
          // per-compaction-event census: seconds vs corpus rows at the
          // point, normalized cost gated flat after the artifact is
          // written (VERDICT r16 item 4)
          val events = d.compacts.toSeq.map { case (k, sec) =>
            val v = k.stripPrefix("stream_cc_compact_v").toLong
            (v, sec, rowsAt(v))
          }.sortBy(_._1)
          slopeCensus += ((s"compaction[$mode]", events))
          val compCensusJson =
            if (events.isEmpty) ""
            else s""","compaction_census":{${eventsJson(events)}}"""
          f""""$mode":{"sf0.1_sec":${d.sec}%.3f,""" +
            f""""dirs_opened_max":${d.dirsMax.round},""" +
            s""""folds":${mapJson(d.folds, "stream_cc_", sec3)},""" +
            s""""bytes":${mapJson(d.bytes, "stream_cc_", whole)},""" +
            s""""compactions":${mapJson(d.compacts, "stream_cc_", sec3)}""" +
            s"""$compCensusJson${d.readsJson}}"""
        }
        // both labels persistences over the same 40-batch feed: the
        // default delta-MERGE table mode and the whole-labeling
        // rewrite option
        s""","stream_cc_drain40":{${drain("labels_table", asTable = true)},""" +
          s"""${drain("rewrite", asTable = false)}}"""
      }

    // labels-persistence CROSSOVER (VERDICT r13 item 4; extended to 12
    // trickles by VERDICT r14 items 1+3): the regime labels_table was
    // built for — a LARGE standing corpus taking SMALL trickle
    // batches. Batch 0 folds the whole 10× corpus (target/sf1
    // documents, ~50k docs); batches 1..12 are sf0.1-sized trickles
    // (~250 docs, fresh ids), so the corpus is ~FIXED through the
    // trickle run and, at compactEvery=5, FIVE compactions (points
    // v4/v9/v14/v19/v24 of the 25-batch schedule) land inside
    // it — per-fold seconds must be flat in batch index at fixed
    // corpus ACROSS compaction boundaries (the r13 done criterion the
    // r14 growing-corpus drain could not isolate). Per-fold WALL and
    // WRITE BYTES for both persistences: rewrite must pay ∝ corpus
    // per trickle (it rewrites the 50k-row labeling), table mode ∝
    // delta — the crossover the sf0.1-sized drain above cannot show
    // (there the corpus is small and table mode's machinery overhead
    // wins).
    val crossSection =
      if (!subset.forall(_("x_stream_cc_crossover"))) ""
      else {
        val srcDir = Fixtures.path("x_stream_cc_cross24_src", sf1)
        // trickles: sf0.1 slices with ids displaced past every sf1 id
        // (the feed contract: ids unique across batches); text reuses
        // the corpus' distribution so trickle folds do real cluster
        // work
        lazy val trickle = graft.Tables.documents(spark, sf01)
          .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
        // slice 0 is ONE file: maxFilesPerTrigger=1 must deliver the
        // whole 10× corpus as batch 0 (the fold repartitions
        // internally, so a single-row-group scan costs nothing
        // downstream)
        feed(spark, srcDir, 25, pinMtimes = false) { r =>
          if (r == 0) graft.Tables.documents(spark, sf1).select(col("doc_id"), col("text"))
          else byDocMod(trickle, 25)(r)
        }
        def drain(mode: String, asTable: Boolean): String = {
          val d = ccDrain(srcDir, "10xcorpus x_stream_cc_crossover", "cross", mode, asTable)
          s""""$mode":{"folds":${mapJson(d.folds, "stream_cc_", sec3)},""" +
            s""""bytes":${mapJson(d.bytes, "stream_cc_", whole)}${d.readsJson}}"""
        }
        s""","stream_cc_crossover":{${drain("labels_table", asTable = true)},""" +
          s"""${drain("rewrite", asTable = false)}}"""
      }

    // 40-batch streaming-DSIR drain (VERDICT r17 item 3): the 10-batch
    // x_stream_dsir entry prices the tier ratio; THIS entry's axis is
    // drain length, the stream_cc_drain40 treatment — refreshEvery=5
    // puts 8 model refreshes inside the drain, so late-drain behavior
    // is measured, not extrapolated. Gated after the artifact is
    // written: (a) non-refresh fold seconds flat in batch index
    // (scoring is O(batch) against a frozen broadcast-size model);
    // (b) refresh sec per corpus row flat-or-falling (the refresh
    // READS O(corpus) — amortized by cadence — and its constant term
    // amortizes into the growing denominator, the compaction_census
    // argument); (c) refresh WRITE bytes ~ model+manifest-sized,
    // strictly sublinear vs the corpus at the point (VERDICT r17 item
    // 1's done criterion: consolidation is by manifest reference, so
    // nothing ever rewrites corpus bytes). 2 passes, min per fold;
    // bytes/files are pass-invariant.
    var dsirRefreshCensus = Seq.empty[(Long, Double, Long)]
    val dsirFoldMins = scala.collection.mutable.Map.empty[Long, Double]
    val dsirBytes = scala.collection.mutable.Map.empty[Long, Double]
    var dsirCorpusBytes = 0L
    val dsirDrainSection =
      if (!subset.forall(_("x_stream_dsir_drain40"))) ""
      else {
        val srcDir = Fixtures.path("x_stream_dsir_drain40_src", sf01)
        // mod-time pinning: deterministic file->batch order (the
        // frozen-model composition depends on it — ADVICE r17)
        feed(spark, srcDir, 40, pinMtimes = true)(byDocMod(dsirDocs(spark, sf01), 40))
        val rowsAt = rowsThrough(spark, srcDir, 40)
        val folds = scala.collection.mutable.Map.empty[String, Double]
        val refreshes = scala.collection.mutable.Map.empty[String, Double]
        val bytes = scala.collection.mutable.Map.empty[String, Double]
        val files = scala.collection.mutable.Map.empty[String, Double]
        var lastState = ""
        for (pass <- 1 to 2) {
          val (n, dt) = timedDrain(srcDir) { src =>
            lastState = Fixtures.fresh("x_dsir40_state")
            graft.streaming.Streams.dsirStream(
              src, "doc_id", "text", "tgt",
              lastState, Fixtures.fresh("x_dsir40_ckpt"),
              refreshEvery = 5)
          }
          val got = RunMetrics.snapshot
          Exec.minMerge(folds, cells(got, "stream_dsir_fold_"))
          // refresh bytes are pass-invariant (same data, same manifest)
          val (refreshBytes, refreshSecs) = cells(got, "stream_dsir_refresh_")
            .partition(_._1.startsWith("stream_dsir_refresh_bytes_"))
          bytes ++= refreshBytes
          Exec.minMerge(refreshes, refreshSecs)
          files ++= cells(got, "stream_dsir_files_")
          println(
            f"pass $pass sf0.1 x_stream_dsir_drain40  ${dt}%8.2fs rows=$n")
        }
        // the corpus the table holds once, as slice files — what a
        // rewrite-based refresh would have copied EVERY refresh
        dsirCorpusBytes = graft.sources.TxTable
          .currentSnapshot(spark, s"$lastState/corpus_tbl").get
          .entries.map(_.size).sum
        dsirRefreshCensus = refreshes.toSeq.map { case (k, sec) =>
          val v = k.stripPrefix("stream_dsir_refresh_v").toLong
          (v, sec, rowsAt(v))
        }.sortBy(_._1)
        slopeCensus += (("stream_dsir refresh", dsirRefreshCensus))
        folds.foreach { case (k, sec) =>
          dsirFoldMins(k.stripPrefix("stream_dsir_fold_b").toLong) = sec }
        bytes.foreach { case (k, v) =>
          dsirBytes(k.stripPrefix("stream_dsir_refresh_bytes_v").toLong) = v }
        s""","stream_dsir_drain40":{""" +
          s""""folds":${mapJson(folds, "stream_dsir_", sec3)},""" +
          s""""refreshes":${mapJson(refreshes, "stream_dsir_", sec3)},""" +
          s""""refresh_bytes":${mapJson(bytes, "stream_dsir_", whole)},""" +
          s""""table_files":${mapJson(files, "stream_dsir_", whole)},""" +
          s""""refresh_census":{${eventsJson(dsirRefreshCensus)}},""" +
          s""""corpus_bytes":$dsirCorpusBytes}"""
      }

    // manifest-width driver ceiling (VERDICT r13 item 6): a table one
    // order past today's widest (2,560 files vs the bucket(256)
    // tables) — records where the single-file-manifest driver state
    // actually sits: resolve wall, manifest bytes, per-entry parse
    // cost. The sharding seam when a deployment outgrows this is
    // documented on TxTable.currentSnapshot. Untimed-family section
    // (the build is one-time; the resolve is measured min-of-5).
    val manifestSection =
      if (subset.nonEmpty) ""
      else {
        import graft.sources.TxTable
        val root = Fixtures.path("x_manifest_wide_tbl", sf01)
        if (TxTable.currentSnapshot(spark, root).isEmpty)
          TxTable.create(
            graft.Tables.orders(spark, sf01).repartition(2560), root, None)
        val resolveMs = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          TxTable.currentSnapshot(spark, root).get
          (System.nanoTime() - t0) / 1e6
        }.min
        val h = TxTable.history(spark, root)
          .orderBy(col("version").desc).head()
        val files = h.getAs[Long]("files")
        val mBytes = h.getAs[Long]("manifest_bytes")
        // a trickle read against the wide manifest: planning must hold
        // while the manifest is 10× today's
        val readMs = CacheScope.scoped(spark) {
          val t0 = System.nanoTime()
          spark.read.format("graft").load(root)
            .filter(col("o_orderkey") === 1L).count()
          (System.nanoTime() - t0) / 1e6
        }
        s""","manifest_wide":{"files":$files,"manifest_bytes":$mBytes,""" +
          f""""resolve_ms":$resolveMs%.1f,"point_read_ms":$readMs%.1f}"""
      }

    // bucket-occupancy census per hash family and tier (VERDICT r11
    // item 3; r13 items 1+5: now at the DERIVED adaptive geometry,
    // extended to the 100× tier, with cross-tier candidates-per-row
    // SLOPES — the saturation axis the within-tier balance gates
    // cannot see: a family whose geometry stops tracking the corpus
    // reads ~uniform in every tier while its cand/row multiplies by
    // the scale factor). Untimed (runs after every timed pass).
    final case class TierCensus(
        tag: String, nDocs: Long, nVec: Long, bits: Int, nlist: Int,
        mh: Census.BucketCensus, sim: Census.BucketCensus,
        srp: Census.BucketCensus, ivf: Census.BucketCensus,
        ivfDist: Census.BucketCensus, simVerifySec: Double) {
      // simhash's candidate slope is density-driven (r14 watch 3:
      // genuine near-dup density in the scaled fixture, not bucketing
      // waste) — so the BOUNDED quantity is what a candidate COSTS:
      // the full pairs query's seconds over the census's candidate
      // count, gated flat across tiers
      def simVerifySecPerCand: Double =
        simVerifySec / math.max(sim.candidatePairs, 1L).toDouble
      // IVF within-tier balance: max bucket over the uniform n/k
      // expectation (r14 measured 4.6× under the old trainer — hot
      // centroids swallowing multiple true clusters)
      def ivfOccRatio: Double =
        ivf.maxOccupancy.toDouble / (nVec.toDouble / nlist)
      // same balance for the DISTRIBUTED trainer (ADVICE r15: the
      // past-the-cap branch had wall-clock evidence only — skew
      // regressions on it were invisible)
      def ivfDistOccRatio: Double =
        ivfDist.maxOccupancy.toDouble / (nVec.toDouble / nlist)
    }
    def censusOf(tag: String, dir: String): TierCensus = CacheScope.scoped(spark) {
      import graft.operators.{Dedup, Ivf, Knn}
      val docs = graft.Tables.documents(spark, dir)
      val emb = graft.Tables.embeddings(spark, dir)
      val mh = Census.of(
        Dedup.lshSide(docs, "doc_id", "text", 3, 8, 4).banded,
        Seq("band", "bandkey"))
      val sigs = Dedup.simhash(docs, "doc_id", "text").persist()
      sigs.count() // pin signatures so the verify timing excludes them
      val sim = Census.of(
        Dedup.hammingBlocks(sigs, "doc_id", "simhash"),
        Seq("blk", "blkval"))
      // verify-stage wall (VERDICT r14 item 6): banding join +
      // bit_count filter over the census's candidate pairs, signatures
      // pre-pinned — the per-candidate cost the density slope buys
      // min over 3 passes (ADVICE r15: the verify-cost gate compares
      // wall-clock ratios whose smallest-tier denominator is tiny —
      // a single measurement there is scheduler jitter, and one noisy
      // draw could spuriously fail the whole rehearsal)
      val simVerifySec = (1 to 3).map { _ =>
        val tV = System.nanoTime()
        graft.tools.Exec.materialize(
          Dedup.simhashPairs(sigs, "doc_id", maxDist = 3))
        (System.nanoTime() - tV) / 1e9
      }.min
      sigs.unpersist()
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val nVec = emb.count()
      val bits = Knn.adaptiveBits(nVec)   // the operators' own derivation
      val nlist = Ivf.adaptiveNlist(nVec)
      val srp = Census.of(
        Knn.srpBuckets(emb, "vec_id", "embedding",
          Knn.portablePlanes(8, bits, dim), bits),
        Seq("tbl", "bucket"))
      val cents = Ivf.trainCentroids(emb, "embedding", nlist)
      val ivf = Census.of(
        emb.select(Ivf.bucketId(col("embedding"), cents).as("bucket")),
        Seq("bucket"))
      // the DISTRIBUTED trainer's model censused per tier too (ADVICE
      // r15): 3 whole-corpus Lloyd passes, linear and untimed
      val distCents = Ivf.trainCentroidsDistributed(emb, "embedding", nlist)
      val ivfDist = Census.of(
        emb.select(Ivf.bucketId(col("embedding"), distCents).as("bucket")),
        Seq("bucket"))
      TierCensus(tag, mh.rows / 8, nVec, bits, nlist, mh, sim, srp, ivf,
        ivfDist, simVerifySec)
    }
    def censusJson(c: TierCensus): String =
      s""""minhash_bands":${c.mh.json.dropRight(1)},"uniform_pairs":null},""" +
        s""""simhash_blocks":${c.sim.json.dropRight(1)},"uniform_pairs":${Census.uniformPairs(c.nDocs, 1L << 31, 20L).round}},""" +
        f""""simhash_verify":{"sec":${c.simVerifySec}%.3f,"sec_per_cand":${c.simVerifySecPerCand}%.3e},""" +
        s""""srp_buckets":${c.srp.json.dropRight(1)},"bits":${c.bits},"uniform_pairs":${Census.uniformPairs(c.nVec, 1L << c.bits, 8L).round}},""" +
        f""""ivf_buckets":${c.ivf.json.dropRight(1)},"nlist":${c.nlist},"uniform_pairs":${Census.uniformPairs(c.nVec, c.nlist, 1L).round},"occ_ratio":${c.ivfOccRatio}%.2f},""" +
        f""""ivf_dist_buckets":${c.ivfDist.json.dropRight(1)},"occ_ratio":${c.ivfDistOccRatio}%.2f}"""
    val censusTiers: Seq[TierCensus] =
      if (subset.nonEmpty) Seq.empty
      else Seq(censusOf("sf0.1", sf01), censusOf("sf1", sf1),
        censusOf("sf10", sf10))
    val census =
      if (censusTiers.isEmpty) ""
      else {
        // candidates-per-row per tier and the tier-over-tier ratio:
        // ≈ flat (ratio ~1) for a geometry tracking the corpus; ≈ the
        // scale factor (×10) for a saturated fixed geometry (exactly
        // what SCALE_r13 measured for 6-bit SRP at sf1). MinHash is
        // dup-driven (unbounded key space): its cand/row follows the
        // fixture's dup density, reported for the record.
        def perRow(f: TierCensus => (Long, Long)): Seq[Double] =
          censusTiers.map { c => val (cand, n) = f(c); cand.toDouble / n }
        def slopeJson(name: String, xs: Seq[Double]): String = {
          val ratios = xs.sliding(2).collect {
            case Seq(a, b) if a > 0 => b / a }.toSeq
          s""""$name":{"cand_per_row":[${xs.map(x => f"$x%.2f").mkString(",")}],""" +
            s""""tier_ratio":[${ratios.map(r => f"$r%.2f").mkString(",")}]}"""
        }
        val srpRows = perRow(c => (c.srp.candidatePairs, c.nVec))
        val ivfRows = perRow(c => (c.ivf.candidatePairs, c.nVec))
        val ivfDistRows = perRow(c => (c.ivfDist.candidatePairs, c.nVec))
        val mhRows = perRow(c => (c.mh.candidatePairs, c.nDocs))
        val simRows = perRow(c => (c.sim.candidatePairs, c.nDocs))
        val simVerify = censusTiers.map(_.simVerifySecPerCand)
        val simVerifyRatios = simVerify.sliding(2).collect {
          case Seq(a, b) if a > 0 => b / a }.toSeq
        s""","census":{${censusTiers.map(c =>
            s""""${c.tag}":{${censusJson(c)}}""").mkString(",")},""" +
          s""""slopes":{${slopeJson("srp", srpRows)},${slopeJson("ivf", ivfRows)},""" +
          s"""${slopeJson("ivf_dist", ivfDistRows)},""" +
          s"""${slopeJson("semdedup", ivfRows)},""" +
          s"""${slopeJson("minhash", mhRows)},${slopeJson("simhash", simRows)},""" +
          s""""simhash_verify_sec_per_cand":[${simVerify.map(v => f"$v%.3e").mkString(",")}],""" +
          s""""simhash_verify_tier_ratio":[${simVerifyRatios.map(r => f"$r%.2f").mkString(",")}]}}"""
      }
    val json =
      s"""{"metric":"scale_rehearsal","passes":$Passes,"note":"sf1/sf10 = deterministic 10x/100x scale-ups of sf0.1 (geometry-preserving copies; see scaleUp/scaleUp100 docs); tier ratio ~scale_factor = linear; _sec/_med/_max = min/median/max over $Passes interleaved passes, ratio from mins, ratio_med from medians. x_skew_spj_full vs _partial = skewed-bucket SPJ straggler, fully- vs partially-clustered. stream_cc_drain40 = 40-micro-batch clusterStream drain at sf0.1 with compactEvery=5, BOTH labels persistences: per-fold seconds (min of 2 passes) must stay flat in batch index, dirs_opened_max <= 6, bytes = per-fold labels write (table mode ~delta, rewrite ~corpus). stream_cc_crossover = 10x corpus + 24 trickle batches at ~fixed corpus with 5 compactions (v4/v9/v14/v19/v24) inside the trickle run, the regime table mode exists for: table-mode fold seconds must be flat in batch index across compaction boundaries and bytes ~delta. census slopes: srp tier_ratio ~1 = constant-occupancy geometry tracks corpus; ivf design slope is sqrt(10)~3.16 (nlist=sqrt(n), gated <=4.0); ~scale factor (10x) = saturated. ivf occ_ratio = max bucket / uniform n-over-k (gated <=2.0, k-means training skew). simhash_verify = full pairs-query seconds per census candidate, gated flat (<=3x/tier) since the candidate slope itself is density-driven. x_pq_query_only vs x_ivf_query_only = m-bytes-per-candidate compressed scan vs raw-vector scan against stored indexes. x_ivf_train_dist = executor-side k-means seam forced (fixed k=256). ivf_dist_buckets = the DISTRIBUTED trainer model censused per tier (occ_ratio gated <=2.0 like the driver path). semdedup slope = alias of the ivf bucket census: q_semdedup pairs = sum C(n_b,2) over the identical deterministic assignment, design slope sqrt(10) at k=sqrt(n). reads (drain/crossover, table mode) = per-batch serving-path cost of the logical labeling (table + sidecar overlay), measured outside fold timings; drain sf0.1_sec excludes these diagnostic reads so both modes time the same work. compaction_census (drain, per mode) = per-compaction-event seconds vs corpus rows at the point; normalized sec/row is gated <= 1.5x the first event (flat-or-falling = the O(corpus) MERGE amortizes, growth = debt accretion). stream_dsir_drain40 = 40-micro-batch dsirStream drain at sf0.1 with refreshEvery=5 (8 in-drain model refreshes): non-refresh fold seconds gated flat (max <= 4x median — scoring is O(batch) against the frozen model), refresh_census sec/row gated flat-or-falling (<= 1.5x first event — the O(corpus) model READ amortizes), refresh_bytes = what each refresh WRITES (model parquet + one manifest commit; the corpus is consolidated by MANIFEST REFERENCE, never copied) gated strictly sublinear vs corpus rows at the point and <= 5 percent of standing corpus bytes. All timed cells use Exec.materialize (the query own executed plan; count() re-planning eliminated cardinality-neutral work in r15 and earlier). census = per-family bucket balance (see graft.tools.Census)","queries_10x":{${entries.mkString(",")}},"queries_100x":{${entries100.mkString(",")}}$dvSection$drainSection$crossSection$dsirDrainSection$manifestSection$census}"""
    if (subset.isEmpty) // subset runs never overwrite the artifact
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SCALE_r18.json"), json + "\n")
    println(json)
    // slope gates (VERDICT r16 item 4, r17 item 3): the compaction
    // events of each stream_cc_drain40 mode and the stream_dsir_drain40
    // model refreshes. Checked after the artifact is on disk, like
    // every gate here, so a failure is loud without losing the evidence.
    slopeCensus.foreach { case (what, events) => slopeGate(what, events) }
    // streaming-DSIR drain gates (VERDICT r17 items 1+3)
    if (dsirRefreshCensus.nonEmpty) {
      // (a) non-refresh fold flatness: scoring is O(batch) against a
      // frozen model, so late folds must cost what early folds cost
      // (4x median tolerates min-of-2 host noise on sub-second folds)
      val score = dsirFoldMins.filterNot(_._1 % 5 == 0).values.toSeq.sorted
      if (score.nonEmpty) {
        val med = score(score.size / 2)
        require(score.last <= med * 4.0,
          f"stream_dsir fold gate: max non-refresh fold ${score.last}%.3f s " +
            f"vs median $med%.3f s (> 4x) — scoring cost grew with the drain")
      }
      // (c) refresh WRITES are model+manifest-sized: byte growth must
      // be strictly sublinear vs corpus growth across the drain, and
      // the last refresh must write a sliver of the standing corpus —
      // the measured form of "consolidate the manifest, not the bytes"
      val bySeq = dsirBytes.toSeq.sortBy(_._1)
      val (v0, b0) = bySeq.head; val (vN, bN) = bySeq.last
      val rowGrowth = dsirRefreshCensus.last._3.toDouble /
        math.max(dsirRefreshCensus.head._3, 1L)
      require(bN / b0 <= 0.25 * rowGrowth,
        f"stream_dsir refresh bytes gate: v$vN wrote ${bN.round} B vs " +
          f"v$v0 ${b0.round} B (${bN / b0}%.1fx) — not sublinear against " +
          f"the $rowGrowth%.1fx corpus growth")
      require(bN <= dsirCorpusBytes * 0.05,
        f"stream_dsir refresh bytes gate: last refresh wrote ${bN.round} B " +
          f"— more than 5%% of the ${dsirCorpusBytes} B corpus (a refresh " +
          "must never approach a corpus copy)")
    }
    // HARD slope gate (VERDICT r13 item 1) — checked after the
    // artifact is on disk, so a failure is loud without losing the
    // evidence: the adaptive families' candidates-per-row must not
    // multiply with the tier (the saturation signature — the fixed
    // geometries measured ~10× per 10× tier). Per-family envelopes:
    // SRP targets CONSTANT occupancy (cand/row flat; 3× tolerates
    // census noise and real cluster structure), IVF targets nlist =
    // √n whose DESIGN slope is cand/row ∝ √n (ratio √10 ≈ 3.16 per
    // tier; 6 allows k-means skew on top — quadratic saturation
    // reads ~10×, still cleanly separated)
    if (censusTiers.nonEmpty) {
      def gate(name: String, maxRatio: Double,
          f: TierCensus => (Long, Long)): Unit =
        censusTiers.map { c => val (cand, n) = f(c); cand.toDouble / n }
          .sliding(2).toSeq.foreach {
            case Seq(a, b) =>
              require(a <= 0 || b / a <= maxRatio,
                f"census slope gate: $name candidates/row grew ${b / a}%.1f× " +
                  f"across one 10× tier (max $maxRatio) — geometry " +
                  "saturated (see SCALE census slopes)")
            case _ => ()
          }
      gate("srp", 3.0, c => (c.srp.candidatePairs, c.nVec))
      // tightened from 6.0 (r14): the k-means++/repair trainer holds
      // near the √10 ≈ 3.16 design slope, so drift past 4.0 is a
      // regression, not noise
      gate("ivf", 4.0, c => (c.ivf.candidatePairs, c.nVec))
      // the distributed trainer's model under the same envelope
      // (ADVICE r15 — it trains on the whole corpus and should sit
      // CLOSER to the √10 design slope than the sampled driver path)
      gate("ivf_dist", 4.0, c => (c.ivfDist.candidatePairs, c.nVec))
      // q_semdedup's candidate set IS Σ C(n_b,2) over the same
      // deterministic IVF assignment (identical trainer, identical
      // k = √n) — the ivf gate above is its n^1.5 design-slope gate;
      // the named alias keeps the artifact explicit (VERDICT r15
      // item 2)
      // within-tier IVF balance (VERDICT r14 item 2): max bucket must
      // stay near the n/k uniform expectation — training skew, not
      // geometry, is what this catches (the slope gate only sees it a
      // tier later)
      censusTiers.foreach { c =>
        require(c.ivfOccRatio <= 2.0,
          f"census occupancy gate: ivf max bucket is ${c.ivfOccRatio}%.2f× " +
            f"uniform at ${c.tag} (max 2.0) — k-means training skew")
        require(c.ivfDistOccRatio <= 2.0,
          f"census occupancy gate: DISTRIBUTED-trained ivf max bucket is " +
            f"${c.ivfDistOccRatio}%.2f× uniform at ${c.tag} (max 2.0)")
      }
      // simhash verify-stage cost per candidate must be flat across
      // tiers (VERDICT r14 item 6: the candidate slope is density-
      // driven, so the bounded quantity is per-candidate work)
      censusTiers.map(_.simVerifySecPerCand).sliding(2).foreach {
        case Seq(a, b) =>
          require(a <= 0 || b / a <= 3.0,
            f"census verify gate: simhash verify sec/candidate grew " +
              f"${b / a}%.1f× across one tier (max 3.0)")
        case _ => ()
      }
    }
    spark.stop()
  }
}
