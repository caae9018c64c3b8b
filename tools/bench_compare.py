#!/usr/bin/env python3
"""Compare two Bench JSON records (the full per-query line).

Usage: python3 tools/bench_compare.py <old.json> <new.json> [ratio_gate]
                                      [--json OUT.json]
                                      [--rows OLD_CORRECTNESS.json NEW_CORRECTNESS.json]
Prints per-query ratios for queries present in both (sorted worst
first), new/removed queries, and totals. Exit 1 if any common query
regressed past the gate (default 2.0x) with an absolute delta > 0.2s
(sub-noise times can't "regress"). With --json, also writes the full
comparison as a machine-readable artifact (the committed
BENCH_r{N}_compare.json round record).

With --rows (two CORRECTNESS_r{N}.json paths), each "regression" whose
spark_rows changed between the two correctness records is tagged
workload_changed instead — the semantics grew (r09: the PNG arm grew
q_media_phash's corpus 375->875 rows, a 6x time delta that was not a
plan regression). workload_changed entries carry old_rows/new_rows and
do NOT trip the exit-1 gate; the artifact self-adjudicates without
BASELINE.md prose.

With --declared NAME=REASON (repeatable; or --declared-file
DECLARED_CHANGES.json, a {"query": "reason"} map), the named queries
are SHIPPED ALGORITHM CHANGES: a same-row-shape upgrade the --rows
adjudication cannot see (r13: q_graph_ann_layered went from the
aliased flat walk to the true 3-layer descent — same 40 rows, 2.89x
time, a declared and recall-justified workload change). Declared
entries land in workload_changed with the declaration echoed
(kind=declared) and do not trip the gate; an UNUSED declaration is a
hard error so a stale file can never pre-waive a future regression.

With --retimed RETIMED.json (a {"query": isolated_median_sec} map of
isolated re-measures: the query alone in a clean JVM, one untimed
warm-up drive, then the median of several timed drives; the committed
RETIMED_r*.json files are such maps), a would-be regression whose
ISOLATED re-measure is NOT itself gate-tripping vs the old record is
session turbulence, not a plan regression: it lands in
adjudicated_noise with both numbers echoed and does not trip the
gate (r15: q_keep_best_verbatim recorded 2.07s in the full run but
re-timed 0.77s isolated vs r14's 0.83 — the full-run observation was
weather). A retimed entry that names a query which is NOT a
gate-tripping delta is a hard error (the --declared staleness rule);
one that names a real regression but does NOT clear it stays a
regression — the file can only adjudicate with evidence, never waive.
"""
import sys, json

json_out = None
if "--json" in sys.argv:
    i = sys.argv.index("--json")
    json_out = sys.argv[i + 1]
    del sys.argv[i:i + 2]

declared = {}
while "--declared" in sys.argv:  # repeatable: one NAME=REASON each
    i = sys.argv.index("--declared")
    name, _, reason = sys.argv[i + 1].partition("=")
    declared[name.strip()] = reason.strip() or "declared workload change"
    del sys.argv[i:i + 2]
if "--declared-file" in sys.argv:
    i = sys.argv.index("--declared-file")
    d = json.load(open(sys.argv[i + 1]))
    declared.update(d if isinstance(d, dict)
                    else {k: "declared workload change" for k in d})
    del sys.argv[i:i + 2]

retimed = {}
if "--retimed" in sys.argv:
    i = sys.argv.index("--retimed")
    retimed = {k: float(v) for k, v in json.load(open(sys.argv[i + 1])).items()}
    del sys.argv[i:i + 2]

rows_old, rows_new = {}, {}
if "--rows" in sys.argv:
    i = sys.argv.index("--rows")

    def load_rows(p):
        try:
            d = json.load(open(p))
            return {k: v.get("spark_rows") for k, v in d.items()
                    if isinstance(v, dict) and v.get("spark_rows") is not None}
        except (OSError, json.JSONDecodeError) as e:
            print(f"warn: could not read rows from {p}: {e}", file=sys.stderr)
            return {}

    rows_old = load_rows(sys.argv[i + 1])
    rows_new = load_rows(sys.argv[i + 2])
    del sys.argv[i:i + 3]


def load(p):
    for line in open(p):
        i = line.find('{"metric"')
        if i >= 0 and '"queries"' in line:
            return json.loads(line[i:].strip())
    # pretty-printed record (the saved BENCH_r*_local.json files)
    with open(p) as f:
        try:
            d = json.load(f)
            if "queries" in d:
                return d
        except json.JSONDecodeError:
            pass
    raise SystemExit(f"no full record in {p}")


old, new = load(sys.argv[1]), load(sys.argv[2])
gate = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
oq = {k: v for k, v in old["queries"].items() if v >= 0}
nq = {k: v for k, v in new["queries"].items() if v >= 0}
common = sorted(set(oq) & set(nq),
                key=lambda k: -(nq[k] / oq[k] if oq[k] > 0 else 1))
# gate over ALL common queries (truncating here would let a large
# absolute regression hide behind 15 sub-noise high-ratio queries)
over_gate = [k for k in common
             if (nq[k] / oq[k] if oq[k] > 0 else float("inf")) > gate
             and nq[k] - oq[k] > 0.2]
# adjudicate: a gate-tripping delta whose result row count changed
# between the correctness records is grown/shrunk semantics, not a
# plan regression — tag it, don't fail on it
workload_changed = [k for k in over_gate
                    if (k in rows_old and k in rows_new
                        and rows_old[k] != rows_new[k])
                    or k in declared]
bad = [k for k in over_gate if k not in workload_changed]
# adjudicate by isolated re-measure: a would-be regression whose
# clean-JVM median (the --retimed map) is NOT itself gate-tripping vs old is
# session turbulence. The re-measure must carry the evidence — a
# retimed value that still trips the gate clears nothing.
adjudicated = [k for k in bad
               if k in retimed
               and (retimed[k] <= gate * oq[k]
                    or retimed[k] - oq[k] <= 0.2)]
bad = [k for k in bad if k not in adjudicated]
# a declaration that adjudicated nothing is stale — fail loudly so the
# file can never pre-waive a regression that hasn't happened yet
unused_declared = [k for k in declared if k not in over_gate]
if unused_declared:
    raise SystemExit(f"declared changes not present as gate-tripping "
                     f"deltas (stale declaration?): {unused_declared}")
unused_retimed = [k for k in retimed if k not in over_gate]
if unused_retimed:
    raise SystemExit(f"retimed entries not present as gate-tripping "
                     f"deltas (stale re-measure file?): {unused_retimed}")
print(f"old total {old['value']:.1f}s/{len(oq)}q   "
      f"new total {new['value']:.1f}s/{len(nq)}q")
for k in [k for k in common if k in over_gate] + \
         [k for k in common if k not in over_gate][:15]:
    r = nq[k] / oq[k] if oq[k] > 0 else float("inf")
    if k in workload_changed:
        detail = (f"declared: {declared[k]}" if k in declared
                  else f"rows {rows_old[k]} -> {rows_new[k]}")
        flag = f"  <-- workload_changed ({detail})"
    elif k in adjudicated:
        flag = f"  <-- adjudicated_noise (isolated {retimed[k]:.2f}s)"
    elif k in bad:
        flag = "  <-- REGRESSION"
    else:
        flag = ""
    print(f"{k:28s} {oq[k]:7.2f} -> {nq[k]:7.2f}  {r:5.2f}x{flag}")
ratios = sorted(nq[k] / oq[k] for k in common if oq[k] > 0)
if ratios:
    print(f"median ratio over {len(common)} common: "
          f"{ratios[len(ratios)//2]:.2f}x")
print("new-only:", " ".join(sorted(set(nq) - set(oq))) or "-")
print("removed:", " ".join(sorted(set(oq) - set(nq))) or "-")
if json_out:
    rec = {
        "old": {"path": sys.argv[1], "total_sec": old["value"], "n": len(oq)},
        "new": {"path": sys.argv[2], "total_sec": new["value"], "n": len(nq)},
        "gate": gate,
        "median_ratio": ratios[len(ratios) // 2] if ratios else None,
        "worst": [
            {"query": k, "old_sec": oq[k], "new_sec": nq[k],
             "ratio": (nq[k] / oq[k] if oq[k] > 0 else None)}
            for k in common[:10]],
        "regressions": [
            {"query": k, "old_sec": oq[k], "new_sec": nq[k],
             "ratio": nq[k] / oq[k]} for k in bad],
        "adjudicated_noise": [
            {"query": k, "old_sec": oq[k], "new_sec": nq[k],
             "ratio": nq[k] / oq[k], "retimed_sec": retimed[k]}
            for k in adjudicated],
        "workload_changed": [
            dict({"query": k, "old_sec": oq[k], "new_sec": nq[k],
                  "ratio": nq[k] / oq[k]},
                 **({"kind": "declared", "declaration": declared[k]}
                    if k in declared else
                    {"kind": "rows", "old_rows": rows_old[k],
                     "new_rows": rows_new[k]}))
            for k in workload_changed],
        "new_only": sorted(set(nq) - set(oq)),
        "removed": sorted(set(oq) - set(nq)),
        "ratios": {k: (nq[k] / oq[k] if oq[k] > 0 else None) for k in common},
    }
    with open(json_out, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"wrote {json_out}")
sys.exit(1 if bad else 0)
