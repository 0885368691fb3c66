#!/bin/bash
# Round-15 probes -> probe_r15.txt: the r14 verdict's measurement items.
#   1. LSH family cache-independence (verdict items 2+6): q145 (and the
#      q116/q128/q142/q147/q148/q151/q157 co-family) isolated, pair table
#      now a fingerprint-keyed ARTIFACT — every Profile run is
#      cache-cold-but-artifact-warm (clearCache between runs), so these
#      rows ARE the eviction-exposed floor that hit 23.96 s in r14.
#   2. Media faces (item 3): q64/q65/q66/q67 isolated with the decoded-
#      stats artifact — target <= 1 s warm.
# The q184 default-stride decade rows and the q170 splice A/B it also ran
# are settled (probe_r15.txt, BASELINE.md); their one-off mains are gone.
cd /root/repo
exec > >(tee probe_r15.txt) 2>&1
echo "== probe_r15 $(date -u +%H:%M:%SZ) load=$(cut -d' ' -f1 /proc/loadavg) =="

echo "--- 1. LSH family, artifact-backed pairs (sf0.1, 3 passes) ---"
scripts/run-tool.sh graft.tools.Profile /root/testdata/sf0.1 3 \
  q34_minhash_lsh_pairs q116_lsh_decontaminate q128_cluster_reps \
  q142_dedup_delta q145_incremental_components q147_contamination_spans \
  q148_schema_drift q151_lsh_quality q157_lsh_canary 2>/dev/null

echo "--- 2. media faces, decoded-stats artifact (sf0.1, 3 passes) ---"
scripts/run-tool.sh graft.tools.Profile /root/testdata/sf0.1 3 \
  q60_media_meta q61_media_decode_summary q64_image_decode \
  q65_audio_decode q66_image_resize q67_frame_sample 2>/dev/null

echo "== done $(date -u +%H:%M:%SZ) load=$(cut -d' ' -f1 /proc/loadavg) =="
