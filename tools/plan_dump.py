"""Regenerate PLANS.md: the formatted physical plan of every
bench-tagged query at sf0.1, with the scale-relevant markers
(broadcast joins, pushed filters, codegen spans, exchanges) counted
up front. Evidence for the SCALE.md claims — rerun after changing
any bench query.

Usage: python tools/plan_dump.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wilayah_aceh_etl_spark.plans.registry import all_specs  # noqa: E402
from wilayah_aceh_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")

MARKERS = [
    ("BroadcastHashJoin", "broadcast joins"),
    ("SortMergeJoin", "sort-merge joins"),
    ("Exchange", "exchanges (shuffles/broadcasts)"),
    ("PushedFilters: \\[[^]]", "scans with pushed filters"),
    ("TakeOrderedAndProject", "top-k (no full sort)"),
]

# Hand-written adjudication/measurement notes that must SURVIVE
# regeneration — appended verbatim under the named query's section.
NOTES: dict[str, str] = {
    "dedup_minhash_lsh_pairs": """\
**Bench-variance adjudication (round 8, r7 verdict ask #3).** The
round-over-round 1.66 ↔ 2.07 s split on this query (code and plan
byte-identical since r6) is NOT bimodal execution — it is the
min-of-3-after-one-warmup window sampling different depths of the
JVM JIT warm-up curve. Measured on an idle box (calibration probe
0.206 s, its usual floor), 12 consecutive timed executions after
one warmup, one fresh session: 2.84 2.33 2.16 2.18 2.11 1.69 2.22
2.05 1.84 1.76 1.81 1.46 — min-of-3 lands at 2.16 while min-of-12
reaches 1.46, a
monotone warm-up decay, not two stable modes. Ruled out by
experiment in the same sitting: AQE partition coalescing
(disabled → 2.03-2.28, indistinguishable), cache-miss recompute
(cold-cache run is 6.45 s; every timed run provably hits the
persisted shingle relation — Spark's CacheManager dedupes by
canonicalized plan, so a fresh fn() call reuses the warmup's
cache), and ambient load (probe at floor throughout). Why THIS
query: it has the headline set's largest driver-side plan (50
exchanges, 11 codegen spans, 14 broadcast joins) and both the plan
ANALYSIS (~0.5-0.7 s/run, also decaying) and the many generated
classes keep tiering up past run 3. The bench protocol stays
min-of-3 (cross-round comparability); read this query's figure with
a ±0.4 s JIT band and judge regressions by the calibration-
normalized ratio, or by re-measuring with ≥10 runs as above.

**r12 RE-BAND (optimization round, 2026-08-18).** The pre-r12 band
above is SUPERSEDED: the array-persisted restructure
(operators/dedup.py, OPTIMIZATION_r12.md change 3) removed the
corpus-wide distinct and the min(string) SortAggregates (plan
exchanges 50 → 22; measured shuffle write 65.3 MB → 878.7 KB).
Fresh-session 12-run idle-box curve at the r12 HEAD (calibration
0.2467): 9.847 1.645 1.165 1.097 0.957 0.950 0.978 0.968 1.019
0.871 0.893 0.885 — bench-protocol min-of-3 1.10, warmed floor
~0.87. Read this query against a [0.82, 1.65] band now.""",
    "agg_pricing_summary": """\
**Bench-variance adjudication (round 9, r8 verdict ask #3).** The
r7→r8 +24% move (0.530 → 0.659 s) is the same min-of-3-vs-JIT-curve
sampling artifact adjudicated for the minhash query, not a plan
change (the one-scan one-aggregate plan is unchanged; nothing in the
r8 diff touches it). Two independent 12-run idle-box curves, fresh
session each: 0.896 0.844 0.679 0.606 0.574 0.527 0.516 0.489 0.462
0.575 0.484 0.490 and 0.912 0.787 0.662 0.536 0.575 0.535 0.555
0.489 0.478 0.443 0.458 0.432 — monotone warm-up decay; min-of-3
lands at 0.66-0.68 while min-of-12 reaches 0.43-0.46. Both r7's
0.530 and r8's 0.659 sit inside that [0.43, 0.91] warm-up band.
Why THIS query is sensitive: it sorts FIRST alphabetically, so
bench.py times it before any other query has warmed the JVM — only
the calibration probe precedes it, and the probe's codegen shares
nothing with a parquet scan+aggregate. (The experiment also showed
the CALIBRATION PROBE has its own warm-up curve: 0.26 s on its
post-warmup min-of-3 in a fresh session vs 0.09-0.10 after the
session has executed a dozen jobs — consistent across rounds since
the protocol is fixed, but another reason to compare rounds by
ratio, not absolute seconds.) Read this query with a ±0.15 s JIT
band; protocol stays min-of-3.""",
    "dedup_semantic_clusters": """\
**Bench-variance adjudication (round 10, r9 verdict ask #2 — the
r8→r9 +34% move, 1.505 → 2.014 s).** Same class as the minhash and
agg_pricing findings: min-of-3 sampling the JVM warm-up curve, not
a plan change (nothing in the r9 diff touches this query's plan;
the `_ranked_cache` handle and lazy-admission changes affect
lifetime and a different registered query). Two independent 12-run
idle-box curves, fresh session each, calibration probe at its
0.20-0.23 s floor throughout: 2.329 2.151 2.146 1.926 2.218 2.216
1.729 1.702 1.527 1.717 1.507 1.543 (min-of-3 2.146, min-of-12
1.507) and 1.922 1.911 1.867 1.712 1.554 1.625 1.494 1.596 1.700
1.901 1.538 1.507 (min-of-3 1.867, min-of-12 1.494). Monotone
warm-up decay into a ~1.50 s floor; min-of-3 outcomes span
1.87-2.15 on an IDLE box, so r8's 1.505 (favorable end), r9's
2.014 (39%-hotter box), and r10's same-day 1.609 all sit inside
the band. Why THIS query warms slowly: the persisted ranked
relation means run 1 pays the cache build, and the three
cache-consuming subtrees (pair join both sides + keep-verdict
join) each JIT their own codegen spans against the InMemoryRelation
— tiering continues past run 3. Read this query with a ±0.4 s JIT
band (dsir has its own measured ±0.25 s band — see its entry);
protocol stays min-of-3, judge regressions by
the calibration-normalized ratio or a fresh ≥10-run curve.

**r12 RE-BAND (optimization round, 2026-08-18).** The band above is
SUPERSEDED: the trained-centroid DataFrame memo
(OPTIMIZATION_r12.md change 5) fixed the per-run cache-entry
re-materialization, so run 2+ pays only the pair join + keep join.
Fresh-session 12-run curve at the r12 HEAD (calibration 0.2735):
14.25 1.338 1.090 0.934 0.916 1.071 1.007 0.996 0.945 0.857 0.911
1.018 — min-of-3 0.93, floor ~0.86. Read against [0.85, 1.35].
Stale since that memo was removed: every run now retrains the
quantizer and re-materializes the ranked relation, so re-measure
before reading a run against this band.""",
    "data_selection_dsir_topk": """\
**Bench-variance adjudication (round 11, r10 verdict ask #2 — the
r9→r10 +17% move, 1.300 → 1.520 s, against a COOLER box).** Same
class as the minhash/agg_pricing/clusters findings: min-of-3
sampling the JVM warm-up curve, not a plan change (the one-pass
O(256)-broadcast TakeOrderedAndProject plan is unchanged; nothing
in the r10 diff touches it). Two independent 12-run idle-box
curves, fresh session each, calibration probe 0.18–0.23 s at
session start decaying to its 0.10 s warmed floor: 1.563 1.369
1.472 1.445 1.361 1.125 1.158 1.310 1.183 1.095 1.040 1.092
(min-of-3 1.369, min-of-12 1.040) and 1.356 1.182 1.133 1.225
1.034 1.073 1.251 1.174 1.003 0.998 1.059 1.074 (min-of-3 1.133,
min-of-12 0.998). Monotone warm-up decay into a ~1.0 s floor;
min-of-3 outcomes span 1.13–1.37 on an IDLE box, a ±0.25 s JIT
band around the observed history (1.462 → 1.300 → 1.520 with
calibrations 0.21/0.30/0.25) — all three rounds sit inside it.
Why THIS query warms slowly: the hashed-ngram importance weights
build two cached aggregate relations whose codegen spans tier up
across the first half-dozen consuming runs (same InMemoryRelation
JIT pattern as dedup_semantic_clusters). Read this query with a
±0.25 s JIT band; protocol stays min-of-3, judge regressions by
the calibration-normalized ratio or a fresh ≥10-run curve.

**r12 RE-BAND (optimization round, 2026-08-18).** After the
window-based totals (OPTIMIZATION_r12.md change 7) the fresh-session
12-run curve at the r12 HEAD (calibration 0.2601): 6.435 1.351
1.267 1.228 1.065 1.186 1.237 1.247 1.182 1.165 1.122 1.096 —
min-of-3 1.23, floor ~1.07. The old 1.13–1.37 band still brackets
the min-of-3 reading; the floor moved down ~0.1 s.""",
    "tpch_q8_market_share": """\
**Bench-variance band (round 12, r11 verdict ask #3 — the r10→r11
+24% move, 0.829 → 1.024 s, zero code change).** Two independent
12-run idle-box curves via tools/bench_curve.py, fresh session
each, NO separate warm-up (run 1 pays file listing + codegen),
calibration probe 0.19/0.18 s: 4.065 1.614 1.252 1.184 1.117
1.119 1.108 1.026 0.953 0.981 1.028 1.064 and 3.706 1.434 1.157
1.122 1.011 0.977 1.023 0.946 0.942 0.926 0.955 0.941 — monotone
warm-up decay; bench-protocol min-of-3 (runs 2-4) lands 1.12-1.18
fresh, decaying to a 0.93-0.95 floor. In-bench the query runs
LATE alphabetically (13th of 14), so the session is warm and the
recorded history sits lower: 0.933 → 0.892 → 0.829 → 1.024
(r8-r11, calibrations 0.213/0.296/0.245/0.205). Union of the
fresh-curve min-of-3 span and the warm-session history:
[0.80, 1.20] — read this query with a ±0.2 s JIT band; every
recorded round sits inside it. Why THIS query: 14 broadcast
joins = 14 relations built per run and the headline set's
second-largest generated-class count; the broadcasts re-JIT until
the session tiers up. Protocol stays min-of-3; judge regressions
by the calibration-normalized ratio or a fresh ≥10-run curve.""",
    "similarity_ivf_trained_topk": """\
**r12 band (optimization round, 2026-08-18).** First recorded band
for this query, at the r12 HEAD (centroid-DF memo + fragment memos
applied). Fresh-session 12-run idle-box curve (calibration 0.2606):
12.989 1.345 1.292 1.300 1.084 1.217 1.081 1.043 1.449 1.102 1.053
1.073 — bench-protocol min-of-3 1.29, warmed floor ~1.04. Read
against a [1.00, 1.45] band; judge regressions by the
calibration-normalized ratio or a fresh ≥10-run curve. Stale since
trained centroids stopped being memoized across runs: every run now
pays its own Lloyd training, so re-measure before reading a run
against this band.""",
    "events_asof_last_purchase": """\
**Bench-variance band (round 12, r11 verdict ask #3 — the r10→r11
+19% move, 0.672 → 0.797 s, zero code change).** Two independent
12-run idle-box curves via tools/bench_curve.py, fresh session
each, NO separate warm-up (run 1 pays file listing + codegen),
calibration probe 0.19/0.18 s: 3.724 1.269 0.999 1.000 0.811
0.851 0.785 0.713 0.732 0.709 0.781 0.697 and 3.258 1.159 0.879
0.808 0.757 0.769 0.737 0.703 0.705 0.655 0.670 0.668 — monotone
warm-up decay; bench-protocol min-of-3 (runs 2-4) lands 0.81-1.00
fresh, decaying to a 0.66-0.70 floor. In-bench history (warm
session, 5th of 14 alphabetically): 0.587 → 0.739 → 0.672 →
0.797 (r8-r11, calibrations 0.213/0.296/0.245/0.205). Union of
the fresh-curve min-of-3 span and the warm-session history:
[0.59, 1.00] — read this query with a ±0.2 s JIT band around
~0.80; every recorded round sits inside it. Why THIS query: the
union-the-two-sides-then-one-Window as-of encoding makes its cost
one big per-user Sort + last(ignorenulls) Window whose generated span
tiers up across runs (the same Window-JIT class as the rolling
query, which moved +similar% in the same rounds). Protocol stays
min-of-3; judge regressions by the calibration-normalized ratio
or a fresh ≥10-run curve.""",
}


def main() -> None:
    spark = get_spark("plan-dump", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical plans of the bench headline set",
        "",
        f"Generated by `python tools/plan_dump.py` at `{SF_DIR}`. AQE wraps",
        "each plan (runtime re-plan: post-shuffle coalesce, skew split,",
        "broadcast demotion); the static tree below is what AQE starts",
        "from. Marker counts first; the `explain(\"formatted\")` operator",
        "tree after.",
        "",
    ]
    specs = {k: v for k, v in sorted(all_specs().items()) if v.bench}
    for name, spec in specs.items():
        df = spec.fn(spark, SF_DIR)
        # AQE's AdaptiveSparkPlan wrapper hides codegen spans until
        # execution; disable it for the static dump (queries re-enable
        # it when they run — same pattern as tools/explain_audit.py)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        fbuf = io.StringIO()
        with redirect_stdout(fbuf):
            df.explain("formatted")
        sbuf = io.StringIO()
        with redirect_stdout(sbuf):
            df.explain()  # simple mode: `*(n)` = whole-stage-codegen span
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        plan = fbuf.getvalue()
        simple = sbuf.getvalue()
        counts = []
        for pat, label in MARKERS:
            n = len(re.findall(pat, plan))
            if n:
                counts.append(f"{label}: {n}")
        spans = {m for m in re.findall(r"\*\((\d+)\)", simple)}
        if spans:
            counts.append(f"codegen spans: {len(spans)}")
        # keep the operator tree, drop the verbose per-node detail section
        tree = plan.split("\n\n")[0]
        lines += [
            f"## {name}",
            "",
            f"*{spec.description}*",
            "",
            f"**{'; '.join(counts) or 'no joins/shuffles'}**",
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
        if name in NOTES:
            lines += [NOTES[name], ""]
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written: {len(specs)} bench queries")


if __name__ == "__main__":
    main()
