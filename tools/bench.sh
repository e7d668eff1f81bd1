#!/bin/bash
# Run graft.Bench (min-of-N wall time per query) over one fixture directory.
#
# usage: tools/bench.sh <sf-dir> <out.json> [q1,q2,...]
#
#   sf-dir    fixture directory (SPARK_GRAFT_SF_DIR), e.g. testdata-sf1
#   out.json  bench JSON (SPARK_GRAFT_BENCH_OUT); Spark's log goes to out.log
#   q1,...    query subset (SPARK_GRAFT_BENCH_ONLY); every query if absent
#
# Compile first (sbt compile). SPARK_GRAFT_BENCH_RUNS and the other Bench
# settings pass through from the environment; the heap is
# SPARK_DRIVER_MEM (default 8g).
#
# The scale tail, the expensive queries measured at every decade:
#   op_dedup_incremental,op_importance_target,op_pipeline_full,op_pipeline_mix,op_importance_resample,op_importance_weights,op_source_cap,op_bpe_encode,op_bpe_token_count,op_bpe_train,op_cdc_chunks,op_cdc_dedup,op_containment_pairs,op_corr_spearman,op_dedup_embedding,op_dedup_embedding_lsh,op_dedup_groups,op_dedup_jaccard,op_dedup_minhash,op_dedup_resolve,op_dedup_semantic_auto,op_dist_drift,op_fuzzy_words,op_graph_components,op_graph_triangles,op_kcore,op_lm_score,op_margin_align,op_margin_align_ann,op_minhash_est,op_multimodal_neardup,op_pipeline_curate,op_pmi_collocations,op_rare_tokens,op_sim_topk_ivfpq,op_sim_topk_ivfpq_res,op_simhash_pairs,op_simhash_pairs64,op_textrank,op_tf_cosine_pairs,op_tokenizer_fertility,q05_theta_join,q12_limit_offset,q18_percentiles,q25_within_group,q29_range_frame,q31_percentile_window
#
# Triage, one JVM and one sample per query with a 25-minute cap:
#   for q in op_textrank op_kcore; do SPARK_GRAFT_BENCH_RUNS=1 timeout 1500 tools/bench.sh testdata-sf3 /tmp/triage_$q.json $q; done
set -e
if [ $# -lt 2 ]; then sed -n '4,8p' "$0" | cut -c3-; exit 2; fi
cd "$(dirname "$0")/.."
SPARK_HOME=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
         sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_BENCH_OUT="$2"
if [ -n "${3:-}" ]; then export SPARK_GRAFT_BENCH_ONLY="$3"; fi
java "-Xmx${SPARK_DRIVER_MEM:-8g}" $OPENS \
  -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*" graft.Bench 2> "${2%.json}.log"
