#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify, then for
each query compare its parquet output against DuckDB running the oracle SQL
over the same testdata parquet. Column order is normalized (sorted by name),
rows are sorted by all columns, values hashed with light float rounding —
approximating the driver's compare so mismatches surface before round end.

Usage: python3 scripts/check.py [sfDir] [--skip-verify]
       python3 scripts/check.py --bench-diff [old.json new.json]
       python3 scripts/check.py --correctness-diff [old.json new.json]
       python3 scripts/check.py --oracle-diff old.json new.json [sfDir]

--bench-diff compares per-query medians between two driver bench files
(default: the two highest BENCH_r*.json rounds) and flags regressions
> 25% that are also > 0.2s absolute (so sub-second queries don't trip
on scheduler noise). Queries only in one file are listed as added or
removed; the shared-query totals quantify pass-level drift. When both
files are Bench detail files carrying engine records (`layers`), each
flagged query also names the record field with the largest relative
change between the two per-query median records.

--correctness-diff compares two CORRECTNESS_r*.json files (default: the
two highest rounds): a query silently DROPPING OUT of the gate, newly
failing, or downgrading from hash-checked to rows-only is flagged —
the r8 verdict noted nothing watches for that class automatically.

--oracle-diff takes two `oracle_sql.json` dumps from graft.Verify (say,
of a parent commit and of a change that only respells oracle SQL). The
two must hold the same query names. Every string whose text differs is
run on both sides in DuckDB over the SF's parquet views (default: the
gate run's), and the two results must be equal: the same
column names and types, and the same rows once sorted, compared by exact
`repr`, with no `canon` rounding. It prints how many strings it checked
and how many matched, and exits 1 at the first mismatch. Verify resolves
the artifact placeholders to `<outDir>_qNNN_artifact` paths, so before it
compares, each dump's own `<outDir>` prefix maps back to one placeholder:
two dumps of the same code check 0 strings. The strings it runs keep
their resolved paths.
"""
import sys, os, json, subprocess, glob, math, hashlib, re

SF = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01")
# Targeted iteration (builder-local, never the gate): GRAFT_ONLY="q178_x
# q179_y" runs Verify for just those queries; pair it with a scratch
# GRAFT_VERIFY_OUT so stale full-gate dumps don't masquerade as rows-only.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.abspath(os.environ.get("GRAFT_VERIFY_OUT", os.path.join(REPO, "target", "verify_out")))
ONLY = os.environ.get("GRAFT_ONLY", "").split()

def run_verify():
    cp = f"{REPO}/target/scala-2.13/classes:" + ":".join(glob.glob("/opt/spark/jars/*.jar"))
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in [
        "java.base/java.lang","java.base/java.lang.invoke","java.base/java.lang.reflect",
        "java.base/java.io","java.base/java.net","java.base/java.nio","java.base/java.util",
        "java.base/java.util.concurrent","java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch","java.base/sun.nio.cs","java.base/sun.security.action",
        "java.base/sun.util.calendar"]]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    cmd = ["java"] + opens + ["-Xmx8g","-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC","-cp",cp,"graft.Verify",SF,OUT] + ONLY
    r = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=REPO)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line: print(line)
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode); print(r.stderr[-3000:]); sys.exit(1)

def canon(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool): return str(v)
    return str(v)

def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return data

def dump_hash(rows, cols):
    """16-hex sha256 prefix over the name-sorted columns and the sorted
    canonical rows: the per-dump identity two runs compare by `diff`."""
    key = repr((sorted(cols), table_hash(rows, cols)))
    return hashlib.sha256(key.encode()).hexdigest()[:16]

def load_bench_queries(path):
    """Per-query medians from a driver BENCH_r*.json (preferring its
    `parsed` block) or a raw Bench stdout/detail json."""
    d = json.load(open(path))
    if isinstance(d, dict) and "parsed" in d:
        d = d["parsed"]
    if not d or "queries" not in d:
        return None
    # BENCH stdout uses short ids (bare "NN" since r14's second shave,
    # "qNN" before), bench_detail full query names — normalize to the
    # canonical "qNN" so any pair of files is comparable
    def norm(k):
        p = k.split("_")[0]
        return p if p.startswith("q") else f"q{p}"
    # r16: the stdout line carries integer DECISECONDS ("unit":"ds") —
    # the third tail-budget shave (~1.5 chars/query). Normalize to
    # seconds so every diff pair stays comparable across rounds.
    scale = 0.1 if d.get("unit") == "ds" else 1.0
    return {norm(k): float(v) * scale for k, v in d["queries"].items()}

def load_bench_loads(path):
    """The per-pass 1-min load averages Bench records since r8 (window-
    quality telemetry); None for older files. r17: the stdout contract
    line carries them too (short key "load"), so driver BENCH records
    self-identify a loaded window without the detail file."""
    d = json.load(open(path))
    if isinstance(d, dict) and "parsed" in d:
        d = d["parsed"]
    la = (d or {}).get("load_avg") or (d or {}).get("load")
    return [float(x) for x in la] if la else None

def load_bench_layers(path):
    """Per-query engine records (`layers`, one per pass) from a Bench
    detail file, reduced to the median of each numeric field; nested
    maps flatten to `plan_ms.analysis`-style keys. None when the file
    carries no records."""
    d = json.load(open(path))
    layers = (d or {}).get("layers") if isinstance(d, dict) else None
    if not layers:
        return None
    def flat(rec, pre=""):
        out = {}
        for k, v in rec.items():
            if isinstance(v, dict): out.update(flat(v, f"{pre}{k}."))
            elif isinstance(v, (int, float)) and not isinstance(v, bool): out[pre + k] = v
        return out
    res = {}
    for name, recs in layers.items():
        q = name.split("_")[0]
        fields = [flat(r) for r in recs]
        keys = set().union(*fields) if fields else set()
        res[q] = {k: sorted(f.get(k, 0) for f in fields)[len(fields) // 2] for k in keys}
    return res

def largest_layer_change(old, new):
    """The record field with the largest relative change between two
    per-query median records, as `(field, old, new)`. A time field
    (`*_s`, `plan_ms.*`, `stream_ms.*`) that moved less than 50 ms is
    skipped: at that size a few-ms planning or GC jitter would otherwise
    outrank the layer that made the query > 0.2 s slower. A field new
    from zero counts as the largest."""
    def secs(k, v):
        return v / 1000 if k.startswith(("plan_ms.", "stream_ms.")) else v
    best = None
    for k in set(old) | set(new):
        o, n = old.get(k, 0), new.get(k, 0)
        if o == n: continue
        timed = k.endswith("_s") or k.startswith(("plan_ms.", "stream_ms."))
        if timed and abs(secs(k, n) - secs(k, o)) < 0.05: continue
        rel = abs(n - o) / abs(o) if o else math.inf
        if best is None or rel > best[0]: best = (rel, k, o, n)
    return None if best is None else best[1:]

# The micro-batch streaming faces (10 classes + batch q63's streaming
# sibling set): their bench cost is dominated by the fixed 3-wave
# delivery + checkpoint-commit latency floor, not data volume.
STREAMING_QUERIES = {"q54", "q57", "q58", "q59", "q62", "q91", "q103",
                     "q108", "q111", "q121", "q138", "q149", "q161",
                     "q175", "q182", "q192"}

def bench_diff(argv):
    explicit = [a for a in argv if not a.startswith("--")]
    if len(explicit) == 2:
        old_path, new_path = explicit
    else:
        rounds = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")))
        if len(rounds) < 2:
            print("bench-diff: need two BENCH_r*.json files"); return 0
        old_path, new_path = rounds[-2], rounds[-1]
    old = load_bench_queries(old_path)
    new = load_bench_queries(new_path)
    if new is None:
        print(f"bench-diff: {new_path} has no parsed queries"); return 1
    if old is None:
        print(f"bench-diff: {old_path} has no parsed queries (pre-r6 rounds "
              "printed an over-long stdout line) — nothing to diff against")
        return 0
    shared = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old)); removed = sorted(set(old) - set(new))
    flagged = []
    for q in shared:
        delta = new[q] - old[q]
        if old[q] > 0 and delta / old[q] > 0.25 and delta > 0.2:
            flagged.append((q, old[q], new[q], delta / old[q]))
    tot_old = sum(old[q] for q in shared); tot_new = sum(new[q] for q in shared)
    print(f"bench-diff: {os.path.basename(old_path)} -> {os.path.basename(new_path)}")
    # window quality (r7 verdict item 6): the r7 A/B showed the load
    # window moves medians 15-20%; surface both windows so a flagged
    # delta can be read against them instead of hand-normalizing
    lo, ln = load_bench_loads(old_path), load_bench_loads(new_path)
    def _fmt(l): return "n/a (pre-r8 file)" if l is None else \
        f"load_avg med {sorted(l)[len(l)//2]:.1f} (min {min(l):.1f}, max {max(l):.1f})"
    print(f"  window: old {_fmt(lo)}; new {_fmt(ln)}")
    if lo and ln:
        mo, mn = sorted(lo)[len(lo)//2], sorted(ln)[len(ln)//2]
        if mo > 0 and abs(mn - mo) / max(mo, 1.0) > 0.3:
            print(f"  WINDOW MISMATCH: loads differ >30% — treat per-query"
                  f" deltas as window-confounded; prefer min-of-passes")
    if shared and tot_old > 0:
        print(f"  shared {len(shared)} queries: {tot_old:.1f}s -> {tot_new:.1f}s "
              f"({(tot_new - tot_old) / tot_old * 100:+.1f}%)")
        # per-class subtotal (r10 verdict item 6): the streaming faces
        # are micro-batch/checkpoint LATENCY-bound (3-wave delivery x
        # commit protocol), not data-bound — ~22s of the r10 166s total.
        # Splitting them out makes a bench drift interpretable: a move
        # in the streaming subtotal is scheduler/commit overhead, a move
        # in the batch subtotal is plan/data cost.
        stream = [q for q in shared if q in STREAMING_QUERIES]
        batch = [q for q in shared if q not in STREAMING_QUERIES]
        for label, qs in (("streaming (latency-floor)", stream),
                          ("batch (data-bound)", batch)):
            # so > 0 guard matches tot_old's (r11 advice: a subtotal
            # whose old times sum to 0 raised ZeroDivisionError)
            if qs and sum(old[q] for q in qs) > 0:
                so, sn = sum(old[q] for q in qs), sum(new[q] for q in qs)
                print(f"    {label:26s} {len(qs):3d}q: {so:.1f}s -> {sn:.1f}s "
                      f"({(sn - so) / so * 100:+.1f}%)")
    else:
        print("  no shared queries")
    if added:   print(f"  added   ({len(added)}): {', '.join(added)} "
                      f"= {sum(new[q] for q in added):.1f}s")
    if removed: print(f"  removed ({len(removed)}): {', '.join(removed)}")
    if flagged:
        print(f"  REGRESSIONS (> 25% and > 0.2s):")
        # both sides' detail files carry engine records: name the record
        # field that moved most, so a flagged query points at its layer
        lo_l, ln_l = load_bench_layers(old_path), load_bench_layers(new_path)
        for q, o, n, pct in sorted(flagged, key=lambda t: -t[3]):
            why = ""
            if lo_l and ln_l and q in lo_l and q in ln_l:
                ch = largest_layer_change(lo_l[q], ln_l[q])
                if ch: why = f"  largest layer change: {ch[0]} {ch[1]:g} -> {ch[2]:g}"
            print(f"    {q}: {o:.2f}s -> {n:.2f}s (+{pct * 100:.0f}%){why}")
    else:
        print("  no per-query regressions above threshold")
    return 1 if flagged else 0

def correctness_diff(argv):
    explicit = [a for a in argv if not a.startswith("--")]
    if len(explicit) == 2:
        old_path, new_path = explicit
    else:
        rounds = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
        if len(rounds) < 2:
            print("correctness-diff: need two CORRECTNESS_r*.json files"); return 0
        old_path, new_path = rounds[-2], rounds[-1]
    old, new = json.load(open(old_path)), json.load(open(new_path))

    def status(rec):
        # driver record: rows/schema/hash flags, err; a query without an
        # oracle gets rows-only checks (hash_match absent or None)
        if rec.get("err"): return "error"
        if rec.get("hash_match") is True: return "hash"
        if rec.get("rows_match") is True: return "rows-only"
        return "fail"
    print(f"correctness-diff: {os.path.basename(old_path)} -> {os.path.basename(new_path)}")
    dropped = sorted(set(old) - set(new))
    added = sorted(set(new) - set(old))
    bad = []
    rank = {"hash": 3, "rows-only": 2, "fail": 1, "error": 0}
    for q in sorted(set(old) & set(new)):
        so, sn = status(old[q]), status(new[q])
        if rank[sn] < rank[so]:
            bad.append((q, so, sn))
    if added:
        print(f"  added ({len(added)}): "
              f"{', '.join(f'{q}[{status(new[q])}]' for q in added)}")
    if dropped:
        print(f"  DROPPED ({len(dropped)}): {', '.join(dropped)} — a query "
              "left the gate; deliberate removals should be recorded in the "
              "round notes")
    if bad:
        print("  DOWNGRADED:")
        for q, so, sn in bad:
            print(f"    {q}: {so} -> {sn}")
    if not dropped and not bad:
        n_hash = sum(1 for q in new if status(new[q]) == "hash")
        print(f"  no drops or downgrades; {n_hash}/{len(new)} hash-checked")
    return 1 if (dropped or bad) else 0

def duck(sf):
    """A DuckDB connection with one view per testdata table of `sf`."""
    import duckdb
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con

# an artifact path Verify resolved: `<outDir>_qNNN_artifact`
ARTIFACT = re.compile(r"[^'\"\s]*_(q\d+_artifact)")

def unresolved(sql):
    """`sql` with every `<outDir>_qNNN_artifact` path prefix mapped back to
    one placeholder, so dumps written to different outDirs compare equal."""
    return ARTIFACT.sub(r"<outDir>_\1", sql)

def oracle_diff(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) not in (2, 3):
        print("oracle-diff: need old.json new.json [sfDir]"); return 2
    old, new = json.load(open(args[0])), json.load(open(args[1]))
    sf = os.path.abspath(args[2]) if len(args) == 3 else SF
    if set(old) != set(new):
        print(f"oracle-diff: KEY SETS DIFFER: only old {sorted(set(old) - set(new))}, "
              f"only new {sorted(set(new) - set(old))}")
        return 1
    con = duck(sf)
    def run(sql):
        rel = con.sql(sql)
        head = list(zip(rel.columns, map(str, rel.types)))
        return head, sorted(repr(r) for r in rel.fetchall())
    changed = sorted(k for k in old if unresolved(old[k]) != unresolved(new[k]))
    matched = 0
    for name in changed:
        try:
            (ho, ro), (hn, rn) = run(old[name]), run(new[name])
            why = None if (ho, ro) == (hn, rn) else \
                f"columns {ho} -> {hn}, rows {len(ro)} -> {len(rn)}"
        except Exception as e:
            why = f"SQL ERROR {e}"
        if why:
            print(f"  {name}: MISMATCH {why}")
            print(f"oracle-diff: {len(old)} strings, {matched + 1} checked, {matched} matched")
            return 1
        matched += 1
        print(f"  {name}: same ({len(ro)} rows)")
    print(f"oracle-diff: {len(old)} strings, {len(changed)} checked, {matched} matched")
    return 0

def main():
    if "--bench-diff" in sys.argv:
        sys.exit(bench_diff(sys.argv[2:]))
    if "--correctness-diff" in sys.argv:
        sys.exit(correctness_diff(sys.argv[2:]))
    if "--oracle-diff" in sys.argv:
        sys.exit(oracle_diff(sys.argv[2:]))
    if "--skip-verify" not in sys.argv:
        run_verify()
    con = duck(SF)
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    ok = fail = 0
    queries = sorted(os.listdir(OUT))
    if ONLY:
        # targeted run (r14 advice): compare ONLY the queries Verify just
        # dumped — otherwise stale full-gate dumps (and stale
        # oracle_sql.json entries) in a pre-populated OUT silently
        # re-report as current results
        queries = [q for q in queries if q in ONLY]
        # r15 advice: a targeted query that threw inside Verify leaves no
        # dump dir and would otherwise be silently dropped — if every
        # targeted query failed, the loop below prints "0 ok, 0 fail" and
        # exits 0, a vacuous green on the exact path built for iterating
        # on a possibly-broken query. Count missing dumps as failures.
        missing = [q for q in ONLY if q not in queries]
        for q in missing:
            print(f"  {q}: NO DUMP DIR (Verify threw or name unknown) — FAIL")
        fail += len(missing)
    for name in queries:
        path = os.path.join(OUT, name)
        if not os.path.isdir(path): continue
        got = con.execute(f"SELECT * FROM '{path}/*.parquet'")
        gcols = [d[0] for d in got.description]; grows = got.fetchall()
        if name not in oracle:
            print(f"  {name}: rows={len(grows)} (no oracle — rows-only check: {'OK' if len(grows)>0 else 'EMPTY!'}) {dump_hash(grows, gcols)}")
            ok += 1 if len(grows) > 0 else 0; fail += 0 if len(grows) > 0 else 1
            continue
        try:
            exp = con.execute(oracle[name])
            ecols = [d[0] for d in exp.description]; erows = exp.fetchall()
            # TYPE AUDIT (the q49 class): DuckDB's sum(BIGINT) silently
            # returns HUGEINT, which the driver's pyarrow-side hash renders
            # differently from the engine's BIGINT even when values are
            # identical. Any oracle column surfacing as HUGEINT/DECIMAL is
            # a latent hash mismatch — fail it here, value-match or not.
            rel = con.sql(oracle[name])
            drifty = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                      if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()]
            if drifty:
                print(f"  {name}: ORACLE TYPE DRIFT {drifty} — wrap in CAST(... AS BIGINT/DOUBLE)")
                fail += 1; continue
        except Exception as e:
            print(f"  {name}: ORACLE SQL ERROR: {e}"); fail += 1; continue
        if sorted(gcols) != sorted(ecols):
            print(f"  {name}: SCHEMA MISMATCH spark={sorted(gcols)} duck={sorted(ecols)}"); fail += 1; continue
        g, e = table_hash(grows, gcols), table_hash(erows, ecols)
        if len(g) != len(e):
            print(f"  {name}: ROWCOUNT MISMATCH spark={len(g)} duck={len(e)}"); fail += 1; continue
        if g != e:
            diffs = [(a, b) for a, b in zip(g, e) if a != b][:3]
            print(f"  {name}: VALUE MISMATCH e.g. {diffs}"); fail += 1; continue
        print(f"  {name}: OK ({len(g)} rows) {dump_hash(grows, gcols)}"); ok += 1
    print(f"== {ok} ok, {fail} fail ==")
    sys.exit(1 if fail else 0)

if __name__ == "__main__":
    main()
