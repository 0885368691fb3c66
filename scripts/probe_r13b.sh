#!/bin/bash
# Round-13 probes, part 2 -> probe_r13b.txt
# (part 1 = probe_r13.txt: the argmax-expression sf30 A/B and the FIRST
#  q155 shape's decade rows — those measured the explode+collect_list
#  splice superlinear at sf10 (77 s warm) and motivated the narrow
#  in-row splice this part re-measures.)
cd /root/repo
exec > >(tee probe_r13b.txt) 2>&1
echo "== probe_r13b $(date -u +%H:%M:%SZ) load=$(cut -d' ' -f1 /proc/loadavg) =="

echo "--- splice pair q155/q158 (narrow in-row shape), decades ---"
scripts/run-tool.sh graft.tools.Profile /root/testdata/sf0.1 3 q155_apply_spans q158_apply_contamination 2>/dev/null
scripts/run-tool.sh graft.tools.Profile target/sf1 2 q155_apply_spans q158_apply_contamination 2>/dev/null
scripts/run-tool.sh graft.tools.Profile target/sf10 2 q155_apply_spans q158_apply_contamination 2>/dev/null
scripts/run-tool.sh graft.tools.Profile target/sf30 2 q155_apply_spans 2>/dev/null
scripts/run-tool.sh graft.tools.Profile target/sf100 2 q155_apply_spans 2>/dev/null

echo "--- coverage pair q156/q159: gate faces at sf0.1, DEFAULT stride at decades ---"
scripts/run-tool.sh graft.tools.Profile /root/testdata/sf0.1 3 q156_index_coverage q159_coverage_repair 2>/dev/null
scripts/run-tool.sh graft.tools.CoverageProbe target/sf1 2 2>/dev/null
scripts/run-tool.sh graft.tools.CoverageProbe target/sf10 2 2>/dev/null
scripts/run-tool.sh graft.tools.CoverageProbe target/sf30 2 2>/dev/null

echo "--- q157 canary audit decades (quiet re-run) ---"
echo "load=$(cut -d' ' -f1 /proc/loadavg)"
scripts/run-tool.sh graft.tools.Profile target/sf1 2 q157_lsh_canary 2>/dev/null
scripts/run-tool.sh graft.tools.Profile target/sf10 2 q157_lsh_canary 2>/dev/null

echo "--- q154 sf30/sf100 quiet re-probe (r12 item 4) ---"
echo "load=$(cut -d' ' -f1 /proc/loadavg)"
scripts/run-tool.sh graft.tools.Profile target/sf30 2 q154_intra_doc_repetition 2>/dev/null
scripts/run-tool.sh graft.tools.Profile target/sf100 2 q154_intra_doc_repetition 2>/dev/null

# each run's engine record splits q149 into stream_ms.addBatch (data
# work), the rest of triggerExecution (micro-batch machinery) and the
# wall time outside the stream (r12 item 7)
echo "--- q149 at sf0.1 after the one-commit-per-batch rework (r12 record 7.91s) ---"
scripts/run-tool.sh graft.tools.Profile /root/testdata/sf0.1 3 q149_stream_admission 2>/dev/null

echo "--- ingest: same sink, Derby vs DuckDB store (r12 item 6); fresh JVM each ---"
DUCK=$(find /root/.cache/coursier -name "duckdb_jdbc-*.jar" | head -1)
for i in 1 2 3; do
  scripts/run-tool.sh graft.tools.JdbcIngestBench /root/testdata/sf0.1 derby 2>/dev/null | tail -1
done
for i in 1 2 3; do
  EXTRA_CP="$DUCK" scripts/run-tool.sh graft.tools.JdbcIngestBench /root/testdata/sf0.1 duckdb 2>/dev/null | tail -1
done

echo "== done $(date -u +%H:%M:%SZ) load=$(cut -d' ' -f1 /proc/loadavg) =="
