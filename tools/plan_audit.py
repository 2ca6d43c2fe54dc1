"""Plan audit: capture `.explain("formatted")` evidence for the headline
queries and condense it into BENCH/PLANS.md — scan schemas (column
pruning), pushed filters, exchange (shuffle) counts, whole-stage-codegen
spans, and join strategies. The artifact is the would-this-plan-survive-
100x evidence the scale review asks for, regenerated whenever plans
change.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from otel_logger_spark.plans.audit import condense, formatted_plan  # noqa: E402


COMMENT = {
    "parse_severity_counts": (
        "parse-UDF stage feeds one partial+final hash aggregate; the UDF "
        "exchanges only int64/strings over Arrow (round-2 design); one "
        "shuffle for the tiny (level, severity) key space."),
    "full_pipeline_routed": (
        "the routed frame before sink fan-out: multiline coalescer window "
        "+ parse + enrichment in ONE conv_id exchange; enrichment is "
        "literal-map expressions inside codegen (no broadcast of wide "
        "rows); attrs ride as the adopted JSON string."),
    "top_revenue_orders": (
        "at gate scale AQE broadcasts the filtered customer and orders "
        "sides; at TPC-H scale the orders-lineitem join becomes a "
        "SortMergeJoin on the shuffled key with the same plan shape. "
        "The top-k is a sort-limit (TakeOrderedAndProject) either way, "
        "never a full sort."),
    "region_rollup": (
        "dimension chain (region/nation/customer) broadcasts onto the "
        "fact scan — no fact-side shuffle before the rollup aggregate."),
    "dedup_minhash": (
        "round 3: signatures are a pure projection (no explode shuffle) — "
        "exchanges are only the banded candidate join keys and the "
        "array_intersect verify joins; shingle strings never shuffle. "
        "The repeated documents scans are the deliberate recompute-over-"
        "cache choice: column-pruned pushed-down scans per branch beat "
        "materializing exploded intermediates at corpus scale."),
    "embedding_topk": (
        "corpus side never shuffles: the query side broadcasts, cosine is "
        "zip_with/aggregate inside codegen, and rank<=k is a per-key "
        "bounded window."),
    "flush_window_counts": (
        "event-time tumbling windows: one exchange on the window key "
        "after the parse stage's partial aggregate."),
    "training_mix": (
        "pure codegen filter (multiplicative-hash threshold) over the "
        "scan + one aggregate exchange; the sampling predicate needs no "
        "shuffle and no UDF."),
    "asof_latest_signup": (
        "as-of join as union + carry-forward window: ONE exchange on the "
        "by key feeds a single incremental Window — no join operator at "
        "all, no range explosion (the second exchange in this plan is the "
        "gate query's own (user_id, ts) pre-aggregate that enforces the "
        "right side's uniqueness contract). The same shuffle an equi-join "
        "would cost, whatever the interval density."),
    "range_click_incidents": (
        "bucketized interval join: intervals explode to their overlapped "
        "buckets, points keep one bucket, the containment pairs come from "
        "a shuffled equi-join on (user_id, bucket) + an exact filter — "
        "never BroadcastNestedLoop/CartesianProduct (test-asserted). "
        "Bucket width ~ interval length keeps the explode factor O(1)."),
    "log_templates": (
        "template mining is a pure codegen regexp_replace chain over the "
        "scan + one aggregate exchange on the (low-cardinality) template "
        "key — the cheapest possible shape for a top-log-statements "
        "table at any scale."),
    "weighted_sample": (
        "quality-weighted sampling: the weight comes from the quality "
        "regex chain (fanned out for narrow inputs), the keep decision is "
        "a division-free integer comparison inside codegen, one aggregate "
        "exchange. No UDF, no rand()."),
    "rate_spikes": (
        "burst detection: the ONLY exchange that sees event volume is the "
        "(role, bucket) count aggregate with map-side partials; the dense "
        "timeline (sequence explode), zero-fill join and trailing window "
        "all run on O(groups x span/bucket) rows. The z-score test is "
        "pure integer codegen — no UDF, no float, no sqrt."),
    "pack_shards": (
        "sequence packing: ONE exchange for the (source, bucket) window "
        "streams and one for the shard-manifest aggregate; the pack "
        "assignment is an exclusive running sum + integer division inside "
        "codegen. Bucketed streams keep the window parallel — a global "
        "order would serialize on one partition."),
    "zorder_buckets": (
        "Z-order key math end-to-end: quantize + 32-term Morton "
        "interleave are pure integer codegen over a two-column pruned "
        "scan (user_id, ts — never the payload), then ONE aggregate "
        "exchange on the 64-value curve-bucket key. The range "
        "measurement is a separate tiny agg job (skippable via "
        "precomputed ranges= since round 6); event volume crosses one "
        "exchange, same as a plain rollup."),
    "pii_redaction": (
        "redaction report: the mask chain and per-type counters are one "
        "regexp codegen pass over the corpus; the per-type report "
        "un-pivots via stack() — ONE pass, never a UNION of per-type "
        "branches (Catalyst has no cross-branch CSE: a union would "
        "re-run every regex per branch). Exchanges: the narrow-input "
        "fan-out repartition + the tiny report aggregate."),
    "decontam_split": (
        "benchmark decontamination: the bench 13-grams broadcast into a "
        "semi-join against the exploded corpus grams, and the (tiny) "
        "contaminated-id set broadcasts into the final anti-join — raw "
        "corpus text crosses ZERO exchanges at any corpus size; only "
        "13-gram strings and ids move."),
    "incremental_dedup": (
        "dedup against the ingested history, consumed through a DIGEST "
        "STORE (round 7): the constructed gate input stages once and the "
        "history digests materialize exactly once — the final plan has "
        "ZERO parquet scans (was 22). The store folds into a Bloom "
        "bitmap (one bit_or aggregate over <= m/64 word slots) that "
        "re-broadcasts as an array literal, so the prefilter is a pure "
        "codegen filter on the batch — no join, no shuffle, no Python. "
        "Only bloom candidates' (id, digest) pairs reach the exact "
        "digest semi-join against the store; a miss (the overwhelming "
        "case at 100 TB where most arriving content is new) costs k "
        "hash probes and zero join rows."),
    "tfidf_terms": (
        "salient terms: two aggregate exchanges the math requires (tf on "
        "(doc, term), df on term) + the term-keyed equi-join (AQE "
        "broadcasts the vocabulary at small scale, SMJ on the shared "
        "term key beyond) + one bounded per-doc window. Scoring is "
        "division-free integer codegen with an in-plan int64 guard; "
        "stopword skew is handled by max_df + df_cap_report, never "
        "silently."),
    "span_dedup": (
        "span-level exact-substring dedup: raw text is consumed at the "
        "scan (window explode is a projection); the one corpus-sized "
        "shuffle is the window-content agg (min!=max, full map-side "
        "partials, no distinct set), and use_hash=True turns its key "
        "into 8 bytes. Coverage is a per-doc window + agg over the "
        "SMALL duplicated-start survivor set; the final join back to "
        "the narrow doc base ships only integers. No Python anywhere."),
    "quantized_ann": (
        "int8 ANN, brute-force reference ranking: ranges travel as two "
        "single array literals and codes as a zip_with chain — "
        "expression size constant in D (round 7; the old D-unrolled "
        "form was all Catalyst compile at the gate and hostile at "
        "D=768-4096); the query side broadcasts; distances are an "
        "integer zip_with fold. The scale path is ann_ivf_quantized."),
    "source_overlap": (
        "the visible plan consumes the localCheckpoint-ed S^2-row pair-"
        "count table (hence 0 exchanges here); the checkpointed subplan "
        "is ONE corpus traversal + ONE exchange: explode -> map-side "
        "collect_set partials -> per-shingle sorted source sets -> "
        "self+cross pair expansion (<= S^2 rows per shingle, a constant) "
        "-> one S^2-key aggregate whose diagonal is the per-source "
        "vocabulary size and off-diagonal the pair intersections. The "
        "first draft self-joined the distinct table and re-shingled the "
        "corpus 3x (9 scans) — no cross-branch CSE in Catalyst."),
    "leakage_split": (
        "split assignment is a pure codegen CASE over the cluster ids the "
        "upstream CC produced (localCheckpoint barrier) — the split itself "
        "adds ZERO exchanges beyond cluster derivation; the report is one "
        "partial+final aggregate on a 3-value key. At 100 TB the cluster "
        "table is the already-materialized dedup output, so splitting is "
        "scan + aggregate, nothing else."),
    "dsir_select": (
        "scoring is one codegen aggregate() fold per row against ONE "
        "B-long array literal (constant expression size in B — the "
        "quantize.py lesson); the two distribution legs partial-aggregate "
        "map-side to <= B*partitions tiny rows before their exchanges and "
        "collect only B counts to the driver (bounded state). Selection "
        "is TakeOrderedAndProject: per-partition top-k heap + k-row "
        "driver merge, never a global sort. Token strings never cross an "
        "exchange anywhere."),
    "vocab_oov": (
        "vocab leg: explode is a same-partition projection, token counts "
        "partial-aggregate map-side, top-k is TakeOrderedAndProject. "
        "Coverage leg: tokens probe the BROADCAST vocab, then the per-doc "
        "aggregate collapses map-side (explode keeps a doc's tokens in "
        "its source partition) so the exchange moves ~one count row per "
        "doc, not one per token."),
    "contamination_profile": (
        "decontam's broadcast shape extended to severity: benchmark "
        "grams BROADCAST; corpus grams explode_outer (sub-n-word docs "
        "stay in the profile at decile 0) into the broadcast left probe; "
        "the per-doc aggregate collapses map-side (explode preserves "
        "partition locality) so the one exchange moves a count row per "
        "doc; the decile histogram is a tiny final aggregate. Raw text "
        "crosses zero exchanges."),
    "lm_fluency": (
        "two regimes switched on K (round 8): at the gate's K<=4096 "
        "scoring is a zero-shuffle projection — element_at against ONE "
        "K-entry literal map + coalesce to the OOV constant, integer DIV "
        "in-plan; above max_literal_k (real CCNet vocab 50k-100k, where "
        "the literal map is O(K) plan nodes) it switches to the vocab_oov "
        "broadcast-probe shape — explode, BroadcastHashJoin the K-row NLL "
        "table, map-side per-doc collapse, one tiny row per doc over the "
        "exchange; bit-identical scores (tests/test_lmscore.py K=50,000 "
        "pin). The reference leg is a bounded TakeOrderedAndProject top-K "
        "+ a K-row driver collect (quantiles/ivf bounded-state pattern). "
        "The report is one tiny aggregate; corpus text never crosses an "
        "exchange in either regime."),
    "freqcap": (
        "RefinedWeb-style per-source cap: ROW_NUMBER runs on a NARROW "
        "(source, n_chars, doc_id) projection — document text never "
        "enters the rank exchange; the report aggregates that narrow "
        "frame directly (zero text exchanges), and the drop variant "
        "re-attaches kept ids via a shuffled left-semi join on doc_id "
        "(one text exchange, the dedup-drop shape — correct when the "
        "kept set is billions of ids and a broadcast would not fit)."),
    "diversity": (
        "n-gram diversity audit: tokens/grams are hashed to int64 "
        "(xxhash64) BEFORE the exchange, so the two COUNT DISTINCT "
        "aggregations shuffle (source, h64) pairs — never gram strings — "
        "with Spark's built-in two-phase partial distinct; text crosses "
        "zero exchanges. The oracle replays the digest bit-exactly "
        "(oracles_xxh64.xxh64_ctes over the union vocabulary)."),
    "semantic_dedup": (
        "SemDeDup: the only corpus-sized movement is ONE shuffle on "
        "cluster_id for the within-cluster self-join — candidate volume "
        "sum |cluster|^2, not N^2; norms/assignments are per-row "
        "projections and the dropped-id set broadcasts into the "
        "accounting join. Runaway-cluster protection is CODE (round 8): "
        "max_cluster excludes over-cap clusters from comparison via the "
        "MinHash hot-bucket window pattern (no extra shuffle, rows kept "
        "never dropped), with semdedup_cap_report as the no-silent-caps "
        "accounting row; default None = exhaustive (the gate shape)."),
    "ann_ivf_quantized": (
        "the COMPOSED 100 TB ANN path: IVF probe joins the quantized "
        "corpus on cluster_id (broadcast equi-join — the corpus never "
        "crosses an exchange, no NLJ/cartesian anywhere in the plan), "
        "then the re-rank distance folds 1-byte codes, integer-exact. "
        "Candidate volume drops ~n_clusters/n_probe vs brute force and "
        "each candidate moves 4x fewer bytes than float32; at 100 TB "
        "only the probed inverted lists are scored per query."),
    "fixed_k_sample": (
        "exact-k sample: one (key, id) window shuffle per stratum; "
        "rank <= k cuts below the sort via the window group limit, so "
        "only k rows per stratum survive the exchange."),
    "funnel": (
        "funnel: ONE shuffle (groupBy user) collects (epoch, type) "
        "structs; the greedy gap-bounded walk is a codegen aggregate() "
        "fold with O(1) state per user — no window over the raw event "
        "stream, no Python. Round 7: prefix counts are a broadcast "
        ">=-join of the K-row step relation against the per-stage "
        "aggregate — the former collect+createDataFrame driver round "
        "trip is gone; the plan is one straight-line query. Per-user "
        "history arrays are bounded by user activity; cap upstream for "
        "pathological users."),
    "token_mix": (
        "mix allocation: the rate derivation is ONE aggregate "
        "(per-source token totals, O(sources) driver state); the keep "
        "is a pure codegen Knuth-hash filter at the scan; the report "
        "joins the tiny plan relation against the kept aggregate. At "
        "10^12 docs the apply step is exactly training_mix's shape — "
        "no shuffle beyond the accounting agg."),
    "normalized_dedup": (
        "normalization is codegen string expressions at the scan (scan "
        "reads only text+source); the two exchanges are the "
        "distinct-aggregate pair the raw-vs-normalized accounting "
        "requires. The drop form reuses the exact-dedup left-semi shape "
        "— only (digest, id) pairs shuffle."),
    "cms_counts": (
        "count-min sketch: the sketch is ONE aggregation (explode d "
        "rows/input -> groupBy (row, low-bits bucket) with map-side "
        "partials -> <= d*w cells whatever N is); estimates broadcast "
        "the tiny sketch against the candidates. The gate's exact "
        "column is verification-only — production uses the sketch "
        "precisely to avoid that full groupBy."),
    "snapshot_diff": (
        "generation diff: each side reduces to (key, xxhash64 digest) "
        "AT THE SCAN — ~24 bytes/row cross the one full-outer SMJ "
        "however wide the table is; classification and the summary agg "
        "run on integers. Generations bucketed on the key diff with "
        "ZERO exchanges (pinned by tests/test_snapshot_diff.py)."),
    "temperature_mix": (
        "alpha-sampling quotas: ONE corpus aggregation (per-source token "
        "totals, map-side partials); isqrt/largest-remainder planning "
        "runs as windows over the O(sources) frame; apply is a broadcast "
        "of the tiny plan + codegen Knuth-hash keep filter — text never "
        "shuffles."),
    "corpus_cartography": (
        "embedding-space source audit: assignment is the O(k)-plan-node "
        "array-literal distance path (no join for centroids); only "
        "(id, cluster_id) crosses an exchange; dominant-source ranking "
        "and Herfindahl concentration are windows over the "
        "O(clusters x sources) frame with an in-plan int64 overflow "
        "guard."),
    "embedding_outliers": (
        "group-centroid outlier audit: the posexplode per-dim "
        "aggregation has map-side partials (exchange carries groups x D "
        "x partitions partial rows, never the corpus); centroid AND "
        "group mean-distance come out of that ONE aggregation via the "
        "sum-of-squares decomposition in DECIMAL(38,0) (a second "
        "corpus agg would be re-executed — Catalyst has no cross-branch "
        "CSE); distances are zip_with codegen folds after one broadcast "
        "join. Corpus traversed exactly twice. Gate-scale exchange count "
        "is inflated by fan_out_if_narrow repartitions on each of the "
        "four scan legs (base+pert x two traversals) — a real table's "
        "natural splits skip all of them."),
    "bigram_fluency": (
        "stupid-backoff scoring (gate = literal regime): transitions are "
        "built IN PLACE with slice+zip_with (no posexplode+lag "
        "sequencing shuffle) and the fold runs against two literal maps "
        "— corpus text crosses zero exchanges; only the per-group "
        "accounting aggregate shuffles. Above max_literal_k the plan "
        "switches to broadcast double-probe joins (B-row bigram table on "
        "pair, K-row unigram on tok) with map-side per-doc collapse — "
        "pinned bit-identical in tests/test_bigram.py."),
    "chunk_windows": (
        "context-window chunking: ONE codegen projection + explode "
        "(transform(sequence) over the in-place token array) — zero "
        "Exchange from the operator itself (pinned on a natural-split "
        "read in tests/test_chunking.py; the single exchange here is the "
        "gate loader's fan_out_if_narrow repartition), no UDF, no window "
        "function; chunk rows leave the scan partition only as output."),
    "image_near_dup": (
        "banded phash Hamming: ONE exchange of (id, phash, band) rows — "
        "4 narrow rows per image, payloads never shuffle — then the "
        "same-key self-join pairs within band buckets and bit_count(xor) "
        "verifies in codegen. Candidates are pigeonhole-complete for "
        "hamming < 4 (banding is plan-only, the brute-force oracle "
        "matches exactly); hot buckets cap via the MinHash discipline. "
        "The gate plan re-runs the mapInPandas decode on both join "
        "sides (no cross-branch CSE) — production input is the already-"
        "materialized decoded-metadata table, where the op is the one "
        "band exchange + join."),
    "hygiene_manifest": (
        "composed hygiene manifest: three rejection rules (repetition, "
        "quality, fluency) are ALL codegen/fold projections sharing ONE "
        "corpus traversal — the per-doc manifest has zero Exchange and "
        "one parquet scan (pinned in tests/test_hygiene.py); only the "
        "per-group accounting aggregate shuffles, one tiny row per doc. "
        "N rules compose in the projection, not as N jobs over 100 TB. "
        "The gate plan's extra exchange is the loader fan-out."),
    "dedup_canonical": (
        "composed keep-list (round 9 shape): the visible plan consumes "
        "the checkpointed edge-node CC labels (ExistingRDD) — the pair "
        "pipeline and the label-propagation fixpoint ran behind that "
        "barrier, with the pair expansion a single posting-list "
        "traversal (map-side partial pair counts, length-bound prune "
        "in-projection) and the loop shuffling only edge-incident "
        "nodes. Here: ids LEFT JOIN labels (SMJ — the RDD side carries "
        "no stats and both sides are corpus-scale at 100x, so SMJ is "
        "the right default), quality broadcast onto it, ONE window for "
        "the per-cluster argmax (cluster_size is pruned), one "
        "aggregate. max_df remains the documented mandatory hot-shingle "
        "cap at scale, now a free posting-size filter."),
    "exact_percentiles": (
        "iterative histogram refinement: each round is scan -> "
        "broadcast the tiny open-range map -> one hash aggregate of "
        "<= states*buckets cells; values never shuffle, the driver "
        "holds bucket COUNTS only (Arrow toPandas). Rounds = "
        "ceil(log_4096(domain)) = 3 for the ~5.6e8 micro domain — the "
        "100 TB alternative is a full sort shuffle of every value; "
        "from round 2 the BETWEEN predicates push to the parquet scan."),
    "bpe_encode": (
        "distributed word-count aggregate (one exchange, map-side "
        "partials) -> bounded driver merge loop -> Arrow-batched "
        "per-word encode fold; one tiny accounting row per doc crosses "
        "the final aggregate exchange. The driver collect is the "
        "word-vocabulary table every BPE trainer holds; capping it "
        "(min_count/top-K under a total order) is the named round-10 "
        "item — at web-corpus vocab sizes the cap is mandatory."),
    "audio_stats": (
        "mapInPandas WAV decode: iterator-form (codec constructed per "
        "task, not per batch), Arrow-bounded batches, only (id, kind, "
        "data) columns cross the Python boundary; valid headers take "
        "the real stdlib/numpy codec, everything else the deterministic "
        "fake through identical plumbing. No shuffle before the decode; "
        "output is typed integers. At 100x the binary payloads stream "
        "batch-by-batch — worker memory is bounded by the Arrow batch "
        "size, not file count."),
    "conversation_rollup": (
        "ONE conv_id aggregate exchange with map-side partials over the "
        "parse stage's output; the salted variant "
        "(conversation_metrics_salted below) is the documented "
        "hot-conversation escape hatch."),
    "doc_repetition": (
        "Gopher-style repetition metrics: pure codegen array/string "
        "expressions over the scan (line splits, n-gram folds) + one "
        "tiny aggregate — zero Python, zero extra exchange; text never "
        "shuffles."),
    "text_quality": (
        "quality features are length/replace/regexp codegen over the "
        "fanned-out scan + one aggregate exchange on the report key; "
        "stopword occurrences use the replace-length identity (engine-"
        "portable, no regex per marker)."),
    "multiline_entry_stats": (
        "coalescer as ONE conv_id window exchange (lag/sum inside "
        "codegen) + the entry aggregate; the round-9 AQE minPartitionSize "
        "floor keeps the window stage at node parallelism at bench "
        "scale (it was coalesced to ~8 tasks)."),
    "pricing_summary": (
        "TPC-H Q1 shape: scan with pushed date filter -> map-side "
        "partial aggregate -> one 6-key exchange; purely "
        "bandwidth-bound at any scale."),
    "window_turn_rollup": (
        "running-sum/lag/rank windows share ONE conv_id exchange (same "
        "partitioning, one sort); no second shuffle for the rollup."),
    "full_pipeline_metrics": (
        "the bench flagship's aggregation side: conversation_metrics "
        "over the routed frame — the parse/coalesce/enrich chain is the "
        "same single conv_id exchange as full_pipeline_routed, and the "
        "metrics add one map-side-combined aggregate; sink fan-out "
        "writes per route reuse the same staged frame (staged "
        "single-pass, no per-sink recompute)."),
    "conversation_metrics_salted": (
        "the extreme-skew path (operators/skew.py): phase 1 groups by "
        "(conv_id, salt) so a hot conversation fans out over S tasks, "
        "phase 2 merges the S partials. The plan must show exactly TWO "
        "aggregate exchanges — (conv_id, _salt) then (conv_id) — with "
        "map-side partial aggregation before each; the salt column is a "
        "codegen pmod(hash(turn_idx)) projection, no extra scan or join. "
        "At 10^12 turns a 1000x-hot conv_id becomes S parallel partials "
        "instead of one straggler task."),
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from otel_logger_spark.session import get_spark

    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from otel_logger_spark import queries as Q
    from otel_logger_spark.gates import GATES
    from otel_logger_spark.operators.rollups import conversation_metrics
    from otel_logger_spark.operators.skew import conversation_metrics_salted
    from otel_logger_spark.pipeline import build_parsed

    # the audited frames that are not gates; every other COMMENT key is
    # built by its gate's builder
    extra = {
        "full_pipeline_routed": lambda: build_parsed(
            spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
                "cast(event_id as string) conv_id",
                "cast(event_id % 100 as int) turn_idx",
                "'user' role", "event_type text",
                "cast(null as string) tool", "ts",
            )
        ),
        "dedup_minhash": lambda: GATES["minhash_pairs"].build(spark, sf_dir),
        "full_pipeline_metrics": lambda: conversation_metrics(
            Q._routed(spark, sf_dir)
        ),
        "conversation_metrics_salted": lambda: conversation_metrics_salted(
            Q._routed(spark, sf_dir)
        ),
    }
    dfs = {
        name: GATES[name].build(spark, sf_dir) if name in GATES
        else extra[name]()
        for name in COMMENT
    }

    out = [
        "# BENCH/PLANS — physical-plan audit of the headline queries\n",
        "Generated by `python tools/plan_audit.py` (re-run after plan",
        "changes). For each query: parquet scans with their read schemas",
        "(column pruning) and pushed filters, the number of Exchange",
        "(shuffle) operators, join strategies, and Python (Arrow) stages",
        "(the operators genuinely outside whole-stage codegen; everything",
        "else in these plans is codegen-eligible JVM expression work).",
        "Commentary states why the plan holds at 100x scale.\n",
    ]
    for name, df in dfs.items():
        c = condense(formatted_plan(df))
        out.append(f"## {name}\n")
        out.append(
            f"- exchanges: {c['exchanges']}; joins: "
            f"{', '.join(c['joins']) if c['joins'] else 'none'}; "
            f"python (Arrow) stages: {c['python_stages']}"
        )
        for s in c["scans"]:
            line = f"- scan `{s.get('Location', s['table'])}`: {s.get('ReadSchema', '?')}"
            pf = s.get("PushedFilters")
            if pf and pf != "[]":
                line += f"; pushed: {pf}"
            out.append(line)
        out.append(f"- audit: {COMMENT.get(name, '')}\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote BENCH/PLANS.md ({len(dfs)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
