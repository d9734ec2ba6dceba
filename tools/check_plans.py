"""Physical-plan quality gate: assert that the plans Catalyst produces for
the engine's headline queries are the plans we want at 100 TB.

Checks (SURVEY.md section 4.2 / task brief):
- filter pushdown reaches the parquet scan (PushedFilters non-empty where a
  scan-level predicate exists);
- column pruning reaches the scan (ReadSchema contains only needed cols —
  in particular the fat `html`/`text` columns are absent when unused);
- small-dim joins broadcast (BroadcastHashJoin, no SortMergeJoin);
- resume anti-join broadcasts;
- aggregations are partial+final hash aggs inside WholeStageCodegen;
- shuffle budgets: queries that claim "exactly one exchange" (or <=N) in
  their docstrings are held to it by exchange counts on the plan.

Writes the formatted plans to BENCH/PLANS.md for the record and exits
non-zero on any failed assertion.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import pyspark.sql.functions as F

from readability_spark.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main():
    spark = get_spark(app_name="plan-check", master="local[8]", shuffle_partitions=8)
    sections = []
    failures = []

    def check(
        name,
        df,
        must=(),
        must_not=(),
        materialize=False,
        exact_exchanges=None,
        max_exchanges=None,
    ):
        """Record the (formatted) plan and assert regex/shuffle properties.

        ``materialize`` runs the query first so AQE finalizes the adaptive
        plan — required before asserting runtime decisions (broadcast
        conversions).  It must execute THIS DataFrame's own queryExecution
        (``collect()``): ``df.count()`` would build and run a different
        plan tree and leave this one un-finalized — round 4's gates
        silently asserted only the static plan because of exactly that.
        ``exact_exchanges``/``max_exchanges`` bound the
        number of shuffle ``Exchange`` nodes (BroadcastExchange does not
        count) — the enforcement teeth behind every "one shuffle"/"<=N
        exchanges" docstring claim."""
        static_plan = plan_of(df)
        if materialize:
            df.collect()
        plan = plan_of(df)
        sections.append((name, plan))
        for pat in must:
            if not re.search(pat, plan):
                failures.append(f"{name}: expected /{pat}/ in plan")
        for pat in must_not:
            if re.search(pat, plan):
                failures.append(f"{name}: must NOT contain /{pat}/")
        if exact_exchanges is not None or max_exchanges is not None:
            # count shuffles on the STATIC plan: a shared shuffle prints
            # once there (ReusedExchange elsewhere), which is the true
            # shuffle budget; the finalized adaptive plan re-prints each
            # reused exchange under every query stage that consumes it,
            # double-counting real shuffles
            n = len(re.findall(r"\(\d+\) Exchange", static_plan))
            if exact_exchanges is not None and n != exact_exchanges:
                failures.append(
                    f"{name}: expected exactly {exact_exchanges} shuffle "
                    f"Exchange(s), got {n}"
                )
            elif max_exchanges is not None and n > max_exchanges:
                failures.append(
                    f"{name}: expected <={max_exchanges} shuffle "
                    f"Exchange(s), got {n}"
                )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    # 1. scan-level predicate + projection pushdown: the fat `text` column
    # must not be read when only doc_id/lang are needed
    check(
        "filter_and_prune",
        docs.filter(F.col("lang") == "en").select("doc_id", "lang"),
        must=[
            r"PushedFilters: \[.*IsNotNull\(lang\).*EqualTo\(lang,en\).*\]",
            r"ReadSchema: struct<doc_id:bigint,lang:string>",
        ],
        must_not=[r"ReadSchema: struct<.*text"],
    )

    # 2. broadcast join for the small dimension (no sort-merge)
    check(
        "broadcast_join",
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n")),
        must=[r"BroadcastHashJoin"],
        must_not=[r"SortMergeJoin"],
    )

    # 3. resume anti-join broadcasts the (small) done-partitions side
    done = spark.createDataFrame([(i,) for i in range(8)], "partition_id int")
    pages = docs.withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(64)).cast("int")
    )
    check(
        "resume_anti_join",
        pages.join(F.broadcast(done), "partition_id", "left_anti"),
        must=[r"BroadcastHashJoin.*LeftAnti"],
        must_not=[r"SortMergeJoin"],
    )

    # 4. partial+final hash aggregation (map-side combine before the
    # exchange; AQE formatted plans don't print codegen spans pre-execution,
    # so assert the aggregate structure itself)
    check(
        "partial_agg",
        lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")),
        must=[
            r"partial_sum\(l_quantity",
            r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
            r"ReadSchema: struct<l_quantity:[^,]+,l_returnflag:string>",
        ],
        must_not=[r"SortAggregate"],
    )

    # 5. extraction pre-filters stay OUTSIDE the UDF and push to the scan
    from readability_spark.spark.pages import PAGES_SCHEMA

    pages_tbl = spark.createDataFrame([], PAGES_SCHEMA)
    pages_tbl.write.mode("overwrite").parquet("/tmp/plan_check_pages")
    pages_scan = spark.read.parquet("/tmp/plan_check_pages")
    check(
        "extraction_prefilter_pushdown",
        pages_scan.filter(F.col("html").isNotNull() & (F.length("url") > 0)).select(
            "url", "html"
        ),
        must=[r"PushedFilters: \[.*IsNotNull\(html\).*\]"],
    )

    # 6. IVF assignment is a map-only projection: centroid codebook inlined,
    # NO exchange/join/aggregate anywhere in the plan
    from readability_spark.spark.textops import ivf_assign, winnow_fingerprints

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 4)
    check(
        "ivf_assign_map_only",
        ivf_assign(emb, cents),
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"Join", r"HashAggregate"],
    )

    # 7. winnowing fingerprints: map-side array exprs feed the explode
    # directly from the scan; the final distinct is the ONLY exchange
    # (partial+final hash agg around it), no join anywhere
    check(
        "winnow_map_only_until_distinct",
        winnow_fingerprints(docs, k=5, w=4),
        must=[
            r"Generate[\s\S]*Scan parquet",
            r"HashAggregate[\s\S]*Exchange[\s\S]*HashAggregate",
        ],
        must_not=[r"Join"],
        exact_exchanges=1,
    )

    import __spark_entry__ as entrymod

    allq = entrymod.queries()

    # 8. stratified sampler: pure map-side filter, nothing else
    check(
        "sample_stratified_map_only",
        allq["sample_stratified"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"Join", r"HashAggregate"],
    )

    # 9. Gopher rule bundle: pure narrow projection over the scan
    check(
        "gopher_quality_filter_map_only",
        allq["gopher_quality_filter"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"Join", r"HashAggregate"],
    )

    # 10. C4 cleaning rules: same contract — line synthesis, per-line keep
    # filter and cleaned-text re-join are all narrow; no shuffle anywhere
    check(
        "c4_quality_filter_map_only",
        allq["c4_quality_filter"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"Join", r"HashAggregate"],
    )

    # 11. minhash_lsh_pairs verify tier: the per-doc size aggregate is
    # corpus-cardinality, so it must be semi-joined down to the LSH
    # collision set BEFORE the jaccard lookup joins (LeftSemi in the
    # plan) — the guard that replaced round 4's forced corpus-sized
    # F.broadcast(sizes).  Initial (non-materialized) plan: the LeftSemi
    # is a structural property, not an AQE decision.
    check(
        "minhash_verify_sizes_semijoin",
        allq["minhash_lsh_pairs"](spark, SF_DIR),
        must=[r"LeftSemi"],
        must_not=[r"CartesianProduct"],
    )

    # 12. sequence packing: exactly ONE exchange (the per-source-shard
    # running-sum window); the boundary explode stays narrow
    check(
        "sequence_pack_one_exchange",
        allq["sequence_pack"](spark, SF_DIR),
        must=[r"Window", r"Generate"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
        exact_exchanges=1,
    )

    # 13. URL blocklist: the rules frame broadcasts (nested-loop is the
    # expected join for the OR-of-kinds predicate) and the corpus side
    # never shuffles
    check(
        "url_blocklist_broadcast_rules",
        allq["url_blocklist_filter"](spark, SF_DIR),
        must=[
            r"BroadcastNestedLoopJoin[\s\S]*LeftAnti"
            r"|LeftAnti[\s\S]*BroadcastNestedLoopJoin"
        ],
        exact_exchanges=0,
    )

    # 14. ccnet bucketing: the per-lang cutoff table broadcasts back onto
    # the scored stream; no corpus-sized sort-merge join
    check(
        "ccnet_buckets_broadcast_cutoffs",
        allq["ccnet_buckets"](spark, SF_DIR),
        must=[r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct"],
        materialize=True,
    )

    # 15. pagerank: iterations shuffle contribution tuples only — the
    # node-list join-back must broadcast under AQE, never cartesian
    check(
        "pagerank_links_broadcast_iterations",
        allq["pagerank_links"](spark, SF_DIR),
        must=[r"BroadcastHashJoin|BroadcastNestedLoopJoin"],
        must_not=[r"CartesianProduct"],
        materialize=True,
    )

    # 16. Gopher repetition rules: one explode feeds all five n-gram
    # lanes; three bounded linear aggregations, no join anywhere
    check(
        "gopher_repetition_three_aggs",
        allq["gopher_repetition_rules"](spark, SF_DIR),
        must=[r"Generate"],
        must_not=[r"Join"],
        max_exchanges=3,
    )

    # 17. SemDeDup: codebook assignment is inlined (no join feeding the
    # pair join's build side beyond the bucket equi-join); the cluster-
    # label join back is UNHINTED (label count is data-dependent) and AQE
    # must convert it to a broadcast join at this sf; nothing cartesian
    check(
        "semdedup_broadcast_labels",
        allq["semdedup_embeddings"](spark, SF_DIR),
        must=[r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct"],
        materialize=True,
    )

    # 18. Hashed linear quality classifier: the inlined 64-weight table and
    # the per-token F.aggregate fold must stay a pure narrow projection —
    # no explode (Generate), no join, no shuffle
    check(
        "quality_classifier_map_only",
        allq["quality_classifier_hashed"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[r"Exchange", r"Join", r"HashAggregate", r"Generate"],
    )

    # 19. score_auto's STUB tier (this container has no model): must be
    # the same pure narrow projection — no Python stage, no shuffle; the
    # model tier's mapInPandas shape is proven by the seam unit tests
    check(
        "quality_score_auto_stub_map_only",
        allq["quality_score_auto"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[
            r"Exchange",
            r"Join",
            r"HashAggregate",
            r"Generate",
            r"MapInPandas",
            r"ArrowEvalPython",
        ],
    )

    # 20. BPE train: NO Python anywhere (the merge is built-in
    # replace()), the per-round argmax is a heap top-1
    # (TakeOrderedAndProject, never a full sort of the pair counts), and
    # the corpus appears only in the word-count aggregate — the per-round
    # 1-row pair frames join back by broadcast (BroadcastNestedLoopJoin
    # on a LIMIT-1 side is the intended cross shape, so only a true
    # CartesianProduct is banned)
    check(
        "bpe_train_no_python_no_corpus_resort",
        allq["bpe_train"](spark, SF_DIR),
        must=[r"TakeOrderedAndProject", r"HashAggregate"],
        must_not=[r"MapInPandas", r"ArrowEvalPython", r"CartesianProduct", r"Sort\b.*global=true"],
    )

    # classifier_train: distributed GD where the corpus is scanned once
    # per iteration and NEVER keyed-shuffled — every Exchange is a
    # SinglePartition carrying D+2 fixed-point gradient sums (bounded by
    # contract constants), weights ride back as 1-row broadcasts
    # (BroadcastNestedLoopJoin is the intended 1-row cross shape), and
    # Python never touches the corpus
    check(
        "classifier_train_gd_no_corpus_shuffle",
        allq["classifier_train"](spark, SF_DIR),
        must=[r"HashAggregate", r"BroadcastNestedLoopJoin"],
        must_not=[
            r"hashpartitioning",
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"SortMergeJoin",
        ],
        max_exchanges=7,
    )

    # doc_chunks: chunking is one narrow projection + one arithmetic
    # explode — zero exchanges, nothing joins, Python never runs
    check(
        "doc_chunks_map_only_explode",
        allq["doc_chunks"](spark, SF_DIR),
        must=[r"\(\d+\) Generate", r"explode"],
        must_not=[r"MapInPandas", r"ArrowEvalPython", r"Join", r"HashAggregate"],
        exact_exchanges=0,
    )

    # filter_funnel_report: all three rule verdicts are map-side
    # expressions in ONE corpus scan feeding ONE conditional count
    # aggregate — the only Exchange is the SinglePartition of its 4
    # integers; no join anywhere (the 4-row blocklist folds into the
    # predicate), no Python
    check(
        "filter_funnel_one_bounded_agg",
        allq["filter_funnel_report"](spark, SF_DIR),
        must=[r"HashAggregate", r"SinglePartition"],
        must_not=[
            r"hashpartitioning",
            r"Join",
            r"MapInPandas",
            r"ArrowEvalPython",
        ],
        exact_exchanges=1,
    )

    # ann_recall_report: truth + served top-ks are all heap
    # TakeOrderedAndProject branches against broadcast 1-row queries —
    # ZERO shuffle exchanges for the whole 3-query eval
    check(
        "ann_recall_zero_shuffle_heap_topk",
        allq["ann_recall_report"](spark, SF_DIR),
        must=[r"TakeOrderedAndProject"],
        must_not=[
            r"hashpartitioning",
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"SortMergeJoin",
        ],
        exact_exchanges=0,
    )

    # classifier_score_trained: the GD rounds verbatim plus ONE more
    # corpus scan against the broadcast 1-row weights — still zero keyed
    # shuffles end to end (the serving scan adds no Exchange at all)
    check(
        "classifier_score_trained_zero_keyed_shuffle",
        allq["classifier_score_trained"](spark, SF_DIR),
        must=[r"HashAggregate", r"BroadcastNestedLoopJoin"],
        must_not=[
            r"hashpartitioning",
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"SortMergeJoin",
        ],
        max_exchanges=7,
    )

    # 21. CCNet composed pipeline: detected-lang scoring + sampled
    # bucketing in one plan — vocab aggregate, AQE scoring join, one
    # doc_id shuffle, sample-sized windows, a languages-row cuts
    # broadcast; 7 static exchanges, all bounded or key-reused; no
    # Python, nothing cartesian, no SMJ at this sf.
    check(
        "ccnet_pipeline_composed_bounded",
        allq["ccnet_pipeline"](spark, SF_DIR),
        must=[r"HashAggregate", r"Window", r"BroadcastHashJoin"],
        must_not=[
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"SortMergeJoin",
        ],
        max_exchanges=7,
        materialize=True,
    )

    # 22. Tokenizer fertility: same discipline as bpe_tokenize — the
    # Python apply (MapInPandas) sits on the DISTINCT-vocabulary branch
    # only; the corpus collapses first to the (source, token) aggregate;
    # nothing cartesian.
    check(
        "tokenizer_fertility_python_on_vocab_only",
        allq["tokenizer_fertility_report"](spark, SF_DIR),
        must=[r"MapInPandas|ArrowEvalPython", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        materialize=True,
    )

    # 23. SimHash Hamming pairs: candidates from ONE equi-join on the
    # (block, value) key — nothing all-pairs, nothing cartesian; the
    # verify fingerprint lookup is semi-joined to the candidate set and
    # unhinted (source audit); no Python, no global sort.
    check(
        "simhash_hamming_block_join_only",
        allq["simhash_hamming_pairs"](spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"Sort\b.*global=true",
        ],
        materialize=True,
    )

    # 24. Bigram-LM perplexity: the three model frames (bigram table,
    # context counts, unigram probs) are vocabulary-bounded map-combined
    # aggregates; the scoring joins are UNHINTED (vocabulary cardinality
    # is data-dependent) and AQE converts them to broadcasts at this sf;
    # one doc_id shuffle for the per-doc NLL; 5 static exchanges total
    # (3 model aggs + the vocab-sized total window + the doc agg),
    # nothing cartesian, no Python.
    check(
        "bigram_ppl_bounded_models_aqe_joins",
        allq["bigram_perplexity_filter"](spark, SF_DIR),
        must=[r"HashAggregate", r"BroadcastHashJoin"],
        must_not=[
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"Sort\b.*global=true",
        ],
        max_exchanges=5,
        materialize=True,
    )

    # 25. LSH recall report: an EVALUATION harness — every frame
    # descends from the bounded doc_id < 300 sample, so no exchange
    # budget applies (the exact all-pairs truth join is the harness's
    # point and is bounded by construction); what must hold is that
    # nothing is cartesian (the 1-row metric crossJoins broadcast) and
    # the counts are hash aggregates.
    check(
        "lsh_recall_report_bounded_harness",
        allq["lsh_recall_report"](spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[r"CartesianProduct"],
        materialize=True,
    )

    # 26. Host reputation filter: the verdict join-back is UNHINTED
    # (host cardinality is data-dependent — the source-level broadcast
    # audit below guarantees no F.broadcast() here) and AQE must still
    # convert it to a broadcast join at this sf; the rollup is one
    # map-combined host aggregate; nothing cartesian, no corpus sort.
    check(
        "host_reputation_unhinted_aqe_join",
        allq["host_reputation_filter"](spark, SF_DIR),
        must=[r"HashAggregate", r"BroadcastHashJoin"],
        must_not=[r"CartesianProduct", r"Sort\b.*global=true"],
        max_exchanges=4,
        materialize=True,
    )

    # 27. BPE tokenize: the Python stage (ArrowEvalPython/MapInPandas)
    # must sit on the DISTINCT-vocabulary branch, and the corpus joins
    # the piece dim without anything cartesian
    check(
        "bpe_python_on_vocab_only",
        allq["bpe_tokenize"](spark, SF_DIR),
        must=[r"MapInPandas|ArrowEvalPython", r"HashAggregate"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
        materialize=True,
    )

    # split_assign: a split decision must cost NOTHING beyond the scan —
    # pure map-side projection, zero exchanges, zero joins, no Python
    check(
        "split_assign_map_only",
        allq["split_assign"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[
            r"Join",
            r"HashAggregate",
            r"Window",
            r"MapInPandas",
            r"ArrowEvalPython",
            r"Sort\b",
        ],
        exact_exchanges=0,
    )

    # split_leakage_audit: the md5 gram/winnow pass (the dominant map
    # cost) runs ONCE into the localCheckpoint barrier — both join sides
    # read the materialized guarded table (ExistingRDD); downstream is
    # one fp equi-join plus ONE per-doc aggregate (the left join lets
    # totals, shared counts and train-doc counts share it) — nothing
    # cartesian, no second corpus scan, no Python
    check(
        "split_leakage_single_fingerprint_pass",
        allq["split_leakage_audit"](spark, SF_DIR),
        must=[r"ExistingRDD", r"HashAggregate|SortAggregate"],
        must_not=[
            r"Scan parquet",
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
        ],
        max_exchanges=3,
        materialize=True,
    )

    # mixture_plan_report: the corpus reaches exactly ONE bounded
    # (source-cardinality) aggregate; the 1-row totals frame rides back
    # as a broadcast (BroadcastNestedLoopJoin is the intended 1-row
    # cross shape); nothing cartesian, no Python, no keyed corpus shuffle
    check(
        "mixture_plan_one_bounded_agg",
        allq["mixture_plan_report"](spark, SF_DIR),
        must=[r"HashAggregate", r"BroadcastNestedLoopJoin"],
        must_not=[
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"SortMergeJoin",
        ],
        max_exchanges=3,
        materialize=True,
    )

    # pq_codes: PQ encoding is a pure narrow projection — codebooks ride
    # as literals, so the corpus is never joined, shuffled, or handed to
    # Python; zero exchanges at any corpus size
    check(
        "pq_codes_map_only",
        allq["pq_codes"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[
            r"Join",
            r"HashAggregate",
            r"Window",
            r"MapInPandas",
            r"ArrowEvalPython",
            r"Sort\b",
        ],
        exact_exchanges=0,
    )

    # ann_pq_topk: the ADC scan feeds a per-partition heap
    # (TakeOrderedAndProject), the exact re-rank is a SECOND heap over the
    # bounded shortlist — never a corpus Sort, never a join, zero
    # exchanges; the self-exclusion filter reaches the parquet scan
    check(
        "ann_pq_topk_two_heaps_zero_exchange",
        allq["ann_pq_topk"](spark, SF_DIR),
        must=[
            r"TakeOrderedAndProject[\s\S]*TakeOrderedAndProject",
            r"PushedFilters: \[[^\]]*Not\(EqualTo\(vec_id,0\)\)",
        ],
        must_not=[r"Join", r"MapInPandas", r"ArrowEvalPython", r"Sort\b"],
        exact_exchanges=0,
    )

    # ann_ivfpq_topk: the composed FAISS-style index keeps BOTH bounds in
    # one plan — coarse probe filter and PQ/ADC all narrow (scan ->
    # filter -> project), shortlist + re-rank as two per-partition heaps;
    # zero exchanges, no joins, no Python at any corpus size
    check(
        "ann_ivfpq_topk_probe_filter_two_heaps",
        allq["ann_ivfpq_topk"](spark, SF_DIR),
        must=[
            r"TakeOrderedAndProject[\s\S]*TakeOrderedAndProject",
            r"Filter",
        ],
        must_not=[r"Join", r"MapInPandas", r"ArrowEvalPython", r"Sort\b"],
        exact_exchanges=0,
    )

    # pq_residual_report: coarse assignment, the inlined centroid-vector
    # lookup, the residual subtraction and BOTH encodes chain as narrow
    # projections — zero exchanges, zero joins, no Python
    check(
        "pq_residual_map_only",
        allq["pq_residual_report"](spark, SF_DIR),
        must=[r"Scan parquet"],
        must_not=[
            r"Join",
            r"HashAggregate",
            r"Window",
            r"MapInPandas",
            r"ArrowEvalPython",
            r"Sort\b",
        ],
        exact_exchanges=0,
    )

    # corpus_zipf_report: one vocabulary-sized map-combined aggregate,
    # a top-K per-partition heap (never a corpus sort), and the
    # rank/regression windows ride the heap's single-partition output —
    # exactly ONE exchange end to end, no joins, no Python
    check(
        "zipf_one_vocab_exchange_heap_topk",
        allq["corpus_zipf_report"](spark, SF_DIR),
        must=[r"TakeOrderedAndProject", r"HashAggregate"],
        must_not=[r"Join", r"MapInPandas", r"ArrowEvalPython"],
        exact_exchanges=1,
    )

    # eval_holdout_sample: one per-stratum ranking window (ONE exchange
    # keyed on lang) + a rank filter — no joins, no Python, output
    # bounded at |strata| * quota rows
    check(
        "eval_holdout_one_stratum_window",
        allq["eval_holdout_sample"](spark, SF_DIR),
        must=[r"Window"],
        must_not=[r"Join", r"MapInPandas", r"ArrowEvalPython", r"HashAggregate"],
        exact_exchanges=1,
    )

    # keyword_tag_report: the dictionary broadcasts (config artifact), so
    # the token stream is cut to dictionary matches MAP-SIDE before
    # anything shuffles — BroadcastHashJoin required; the two exchanges
    # are the distinct-term grain and the (doc, tag) rollup, BOTH over
    # dictionary-hit volume (bounded by the dictionary), never raw
    # token volume; no Python
    check(
        "keyword_tag_broadcast_dict_hit_volume_only",
        allq["keyword_tag_report"](spark, SF_DIR),
        must=[r"BroadcastHashJoin", r"HashAggregate"],
        must_not=[
            r"SortMergeJoin",
            r"CartesianProduct",
            r"MapInPandas",
            r"ArrowEvalPython",
        ],
        exact_exchanges=2,
    )

    # langid_confusion_report: scoring/argmax narrow map-side, ONE
    # bounded (lang x guess) aggregate, share window over those few
    # cells — a single corpus-side exchange, no joins, no Python
    check(
        "langid_confusion_one_bounded_agg",
        allq["langid_confusion_report"](spark, SF_DIR),
        must=[r"HashAggregate", r"Window"],
        must_not=[r"Join", r"MapInPandas", r"ArrowEvalPython"],
        max_exchanges=2,
    )

    # image_ahash_neardup: same contract as the text SimHash gate — the
    # decode+hash is narrow (no Python), candidates come from ONE
    # equi-join on the (block, value) key, nothing all-pairs/cartesian,
    # no global sort; verify lookup semi-joined and unhinted (source audit)
    check(
        "image_ahash_block_join_only",
        allq["image_ahash_neardup"](spark, SF_DIR),
        must=[r"HashAggregate"],
        must_not=[
            r"MapInPandas",
            r"ArrowEvalPython",
            r"CartesianProduct",
            r"Sort\b.*global=true",
        ],
        materialize=True,
    )

    # --- source-level broadcast-hint audit ------------------------------
    # Every F.broadcast() in the engine must sit on a frame whose size is
    # BOUNDED BY CONSTRUCTION (a fixed suite, a 1-row aggregate, a capped
    # token set, a user-supplied query set) — never on a frame whose size
    # is a data-dependent fraction of the corpus (dup labels, contaminated
    # ids, per-doc size lookups: those are left unhinted for AQE's runtime
    # size decision).  The allowlist pins each justified site by a line
    # substring; a new F.broadcast() call fails this gate until it is
    # reviewed and added here with its boundedness argument.
    BROADCAST_ALLOWLIST = {
        "readability_spark/spark/textops.py": [
            ("F.broadcast(q)", "ANN query set — user-supplied, small by contract"),
        ],
        "readability_spark/spark/modelscore.py": [
            (
                "F.broadcast(wrow)",
                "classifier_train weight row — exactly ONE row of D+1 "
                "doubles (D a contract constant) per iteration",
            ),
            (
                "F.broadcast(g)",
                "classifier_train gradient — a global aggregate's single "
                "output row (D+2 values) regardless of corpus size",
            ),
            (
                "F.broadcast(weights)",
                "classifier_score_trained serving weights — the same ONE "
                "row, projected to c0..c{D-1}, cb",
            ),
        ],
        "__spark_entry__.py": [
            ("F.broadcast(cuts)", "per-lang sampled quantile cutoffs — rows = |langs| x 2"),
            (
                "F.broadcast(rules)",
                "URL blocklist / keyword-tag dictionaries — fixed config "
                "artifacts, never corpus-derived (two sites)",
            ),
            ("F.broadcast(nrow)", "single-row corpus count"),
            ("F.broadcast(q)", "single ANN query vector"),
            ("F.broadcast(qv)", "ann_recall_report eval query vector — 1 row"),
            ("F.broadcast(best", "single-row argmax pair (LIMIT 1) per training round"),
            (
                "F.broadcast(s)",
                "mixture_plan_report totals — a global aggregate's single "
                "output row (2 values) regardless of corpus size",
            ),
        ],
    }
    audit_files = [
        p
        for pat in ("readability_spark/**/*.py", "scripts/*.py", "__spark_entry__.py", "bench.py")
        for p in REPO.glob(pat)
    ]
    for path in audit_files:
        rel = str(path.relative_to(REPO))
        allowed_subs = [a for a, _ in BROADCAST_ALLOWLIST.get(rel, [])]
        for i, line in enumerate(path.read_text().splitlines(), 1):
            # real call sites only: prose like "an F.broadcast() that"
            # (docstrings/comments) has empty parens or a leading #
            if not re.search(r"F\.broadcast\([^)]", line) or line.lstrip().startswith("#"):
                continue
            if not any(sub in line for sub in allowed_subs):
                failures.append(
                    f"broadcast_hint_audit: {rel}:{i} has an unreviewed "
                    f"F.broadcast() — add it to the allowlist with a "
                    f"boundedness justification: {line.strip()[:90]}"
                )
    sections.append(
        (
            "broadcast_hint_audit",
            "source-level audit: every F.broadcast() site matched the "
            "bounded-by-construction allowlist\n"
            + "\n".join(
                f"  {rel}: {sub} — {why}"
                for rel, allowed in BROADCAST_ALLOWLIST.items()
                for sub, why in allowed
            ),
        )
    )

    out = ["# BENCH/PLANS.md — physical-plan audit", ""]
    out.append(
        "Generated by `tools/check_plans.py` (asserts pushdown / pruning / "
        "broadcast / partial-agg properties, then records the plans)."
    )
    for name, plan in sections:
        out += ["", f"## {name}", "", "```", plan.strip(), "```"]
    (REPO / "BENCH").mkdir(exist_ok=True)
    (REPO / "BENCH" / "PLANS.md").write_text("\n".join(out) + "\n")

    spark.stop()
    if failures:
        print("PLAN CHECK FAILURES:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print(f"all {len(sections)} plan checks passed; plans written to BENCH/PLANS.md")


if __name__ == "__main__":
    main()
