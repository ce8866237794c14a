"""Workload `wilayah_sync_serve`: the reference service's own surface.

Inputs: a 37-file synthetic GeoJSON corpus (and its variant B) from
gen_geojson.py. Set-up: Spark session, `seed_if_empty`, a full `sync`
of corpus A into a fresh table, and one untimed read of each kind.
Then passes run back to back, one closed-loop client, until the run's
seconds are used. A pass is one write and 12 reads in seeded order:

  write     `sync` of the largest kabupaten that variant B changes,
            alternating B (new names and geometry) and A (back again)
  reads     three each of `search` (a name fragment, a miss, or a query
            shorter than 3 characters), `status_counts` under a prefix,
            `geojson_envelope` at code length 2/5/8/13, and
            `get_wilayah_by_level`, with seeded arguments; every read
            calls `load_wilayah` afresh

The mix is the same for every seed and the written kabupaten always
holds 60-80 features, so seeds vary the data and the arguments more
than the amount of work.

Every op's output is checked against the generator's ground truth:
per-prefix counts, last-wins names, created_at preserved across
syncs, empty results for short queries, a null geometry for the
malformed feature. After each write the whole table is compared with
the truth, outside the timed region.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import time

import gen_geojson
from common import Op, Run, error_text, median
from spans import JobStats, Tracer

READS_PER_WRITE = 12
READ_KINDS = ("search", "status", "envelope", "by_level")
SEED_CLOCK = datetime.datetime(2024, 1, 1, 0, 0)
SYNC_CLOCK = datetime.datetime(2024, 1, 1, 1, 0)


class Truth:
    """Expected table state, maintained by replaying each write."""

    def __init__(self, corpus: gen_geojson.Corpus) -> None:
        self.corpus = corpus
        self.rows: dict[str, dict] = {}

    def sync(self, variant: str, prefix: str, clock, levels=(1, 2, 3, 4)) -> int:
        won = self.corpus.rows(variant, prefix)
        n = 0
        for kode, f in won.items():
            if f.level not in levels:
                continue
            prev = self.rows.get(kode)
            self.rows[kode] = {"nama": f.nama, "level": f.level, "malformed": f.malformed,
                               "created": prev["created"] if prev else clock, "updated": clock}
            n += 1
        return n

    def under(self, prefix: str | None, level: int | None = None) -> list[tuple[str, dict]]:
        return sorted(
            (k, v) for k, v in self.rows.items()
            if (prefix is None or k.startswith(prefix)) and (level is None or v["level"] == level)
        )

    # expected results, in the shape the engine returns them
    def search(self, q: str) -> list[tuple]:
        if len(q) < 3:
            return []
        hits = [(v["level"], v["nama"], k) for k, v in self.rows.items() if q.lower() in v["nama"].lower()]
        return [(k, name, lvl) for lvl, name, k in sorted(hits)[:10]]

    def status(self, code: str) -> tuple:
        rows = self.under(code)
        return (len(rows) > 0, *(sum(1 for _, v in rows if v["level"] == lv) for lv in (1, 2, 3, 4)))

    def envelope(self, code: str) -> dict[str, list[tuple]]:
        n = len(code)
        plan = {
            2: [("provinsi", 1, code), ("kabupaten", 2, code)],
            5: [("kabupaten", 2, code), ("kecamatan", 3, code), ("kelurahan", 4, code)],
            8: [("kabupaten", 2, code[:5]), ("kecamatan", 3, code), ("kelurahan", 4, code)],
        }.get(n, [("kecamatan", 3, code[:8]), ("kelurahan", 4, code)])
        out = {}
        for part, lv, prefix in plan:
            rows = self.under(prefix, lv)
            if rows:
                out[part] = [(k, v["nama"], not v["malformed"]) for k, v in rows]
        return out

    def by_level(self, level: int, parent: str | None) -> list[tuple]:
        return [(k, v["nama"], not v["malformed"]) for k, v in self.under(parent, level)]


def _read_args(rng: random.Random, truth: Truth, corpus: gen_geojson.Corpus, kind: str):
    codes = sorted(truth.rows)
    if kind == "search":
        roll = rng.random()
        if roll < 0.15:
            return rng.choice(["a", "Ba", "u", "Ra", "k"])
        if roll < 0.3:
            return "x" + "".join(rng.choice("qzjv") for _ in range(3))
        name = truth.rows[rng.choice(codes)]["nama"]
        i = rng.randrange(0, max(1, len(name) - 3))
        q = name[i:i + rng.randint(3, 8)]
        return q.upper() if rng.random() < 0.3 else q.lower()
    if kind == "status":
        return rng.choice(["11"] + [c for c in codes if len(c) in (5, 8)])
    if kind == "envelope":
        n = rng.choice((2, 5, 8, 13))
        pool = [c for c in codes if len(c) == n] or ["11"]
        if n == 13 and rng.random() < 0.25:
            return corpus.malformed_kode
        return rng.choice(pool)
    level = rng.randint(1, 4)
    parents = {1: [None], 2: [None, "11"], 3: corpus.kabupaten,
               4: sorted({c[:5] for c in codes if len(c) == 13} | {c[:8] for c in codes if len(c) == 13})}
    return level, rng.choice(parents[level])


class _Serve:
    """The workload's ops against one table, each with its check."""

    def __init__(self, r: Run, W, table: str, dirs: dict[str, str], truth: Truth) -> None:
        self.r, self.W, self.table, self.dirs, self.truth = r, W, table, dirs, truth
        self.clock = SYNC_CLOCK

    def sync(self, variant: str, prefix: str) -> tuple[float, int]:
        """The write: seconds and processed count; the truth is updated
        afterwards, outside the timed call."""
        self.clock += datetime.timedelta(minutes=1)
        t = time.perf_counter()
        n = self.W.sync(self.r.spark, self.dirs[variant], self.table, prefix, clock=self.clock)
        return time.perf_counter() - t, n

    def check_sync(self, variant: str, prefix: str, n: int) -> str | None:
        want = self.truth.sync(variant, prefix, self.clock)
        if n != want:
            return f"check: sync {prefix} from {variant} processed {n}, expected {want}"
        return self.check_table()

    def build(self, kind: str, arg, tab):
        W = self.W
        if kind == "search":
            return W.search(tab, arg)
        if kind == "status":
            return W.status_counts(tab, arg)
        if kind == "envelope":
            return W.geojson_envelope(tab, arg)
        return W.get_wilayah_by_level(tab, arg[0], arg[1])

    def check_read(self, kind: str, arg, rows) -> str | None:
        t = self.truth
        if kind == "search":
            got, want = [(x.id, x.name, x.level) for x in rows], t.search(arg)
        elif kind == "status":
            x = rows[0]
            got = (x.available, x.provinsi, x.kabupaten, x.kecamatan, x.kelurahan)
            want = t.status(arg)
        elif kind == "envelope":
            got = {}
            for x in rows:
                feats = json.loads(x.feature_collection)["features"]
                if len(feats) != x.n_features:
                    return f"check: envelope {arg}: n_features {x.n_features} != {len(feats)}"
                got[x.part] = [(f["properties"]["id"], f["properties"]["name"],
                                (f.get("geometry") or {}).get("type") == "MultiPolygon") for f in feats]
            want = t.envelope(arg)
        else:
            got = sorted((x.id, x.name, x.geom is not None) for x in rows)
            want = t.by_level(*arg)
        if got == want:
            return None
        return f"check: {kind} {arg!r}: got {str(got)[:200]} want {str(want)[:200]}"

    def check_table(self) -> str | None:
        from pyspark.sql import functions as F

        tab = self.W.load_wilayah(self.r.spark, self.table)
        rows = tab.select(
            "kode_wilayah_kemendagri", "nama_wilayah_kemendagri", "level",
            "created_at", "updated_at", F.col("geometry").isNull(),
        ).collect()
        got = {x[0]: {"nama": x[1], "level": x[2], "malformed": x[5],
                      "created": x[3], "updated": x[4]} for x in rows}
        if len(rows) != len(got):
            return f"check: table holds {len(rows) - len(got)} duplicate codes"
        bad = sorted(k for k in set(got) | set(self.truth.rows) if got.get(k) != self.truth.rows.get(k))
        if bad:
            return (f"check: {len(bad)} table rows differ, first {bad[0]}: "
                    f"{got.get(bad[0])} != {self.truth.rows.get(bad[0])}")
        return None


def _plan_pass(rng: random.Random, truth: Truth, corpus, writes: list[tuple]) -> list[tuple]:
    """One pass: 12 reads and one write at a seeded position. Writes
    alternate: B changes the kabupaten, the next A changes it back."""
    kinds = [k for k in READ_KINDS for _ in range(READS_PER_WRITE // len(READ_KINDS))]
    rng.shuffle(kinds)
    ops = [(k, _read_args(rng, truth, corpus, k)) for k in kinds]
    prefix = max(corpus.changed_in_b, key=lambda p: sum(f.file.startswith(p) for f in corpus.a))
    writes.append(("b" if len(writes) % 2 == 0 else "a", prefix))
    ops.insert(rng.randrange(0, len(ops) + 1), ("sync", writes[-1]))
    return ops


def run(r: Run) -> None:
    dirs = {"a": os.path.join(r.work, "geojson_a"), "b": os.path.join(r.work, "geojson_b")}
    corpus, corpus_bytes = gen_geojson.write_corpus(dirs["a"], dirs["b"], r.seed)
    table = os.path.join(r.work, "m_wilayah_poligon")
    rng = random.Random(r.seed)
    truth = Truth(corpus)
    truth.sync("a", "", SEED_CLOCK, levels=(1,))
    want = truth.sync("a", "11", SYNC_CLOCK)

    t0 = time.perf_counter()
    session_s = r.start_spark()
    import wilayah_aceh_etl_spark.operators.wilayah as W

    serve = _Serve(r, W, table, dirs, truth)
    seeded = W.seed_if_empty(r.spark, dirs["a"], table, clock=SEED_CLOCK)
    t = time.perf_counter()
    n = W.sync(r.spark, dirs["a"], table, "11", clock=SYNC_CLOCK)
    ingest_s = time.perf_counter() - t
    for kind in READ_KINDS:  # warm-up: one untimed read of each kind
        serve.build(kind, _read_args(rng, truth, corpus, kind), W.load_wilayah(r.spark, table)).collect()
    setup_s = time.perf_counter() - t0
    # nothing downstream can be measured against a wrong table
    bad = (None if seeded else "seed_if_empty did not seed an empty table") \
        or (None if n == want else f"full sync processed {n}, expected {want}") \
        or serve.check_table()
    if bad:
        raise RuntimeError(f"set-up: {bad}")
    r.detail["session_s"] = session_s
    r.detail["corpus"] = {"files": len(corpus.files), "bytes": corpus_bytes,
                          "features": len(corpus.a), "codes": len(truth.rows)}
    writes: list[tuple] = []
    if r.trace:
        _traced(r, serve, _plan_pass(rng, truth, corpus, writes), corpus, corpus_bytes, session_s)
        return

    start, passes = time.perf_counter(), 0
    while passes == 0 or time.perf_counter() - start < r.seconds:
        for kind, arg in _plan_pass(rng, truth, corpus, writes):
            op = Op(kind, "write" if kind == "sync" else "read", passes)
            r.ops.append(op)
            try:
                if kind == "sync":
                    op.seconds, n = serve.sync(*arg)
                    op.error = serve.check_sync(*arg, n)
                else:
                    t = time.perf_counter()
                    rows = serve.build(kind, arg, W.load_wilayah(r.spark, table)).collect()
                    op.seconds = time.perf_counter() - t
                    op.error = serve.check_read(kind, arg, rows)
            except Exception as exc:
                op.error = error_text("timed", exc)
            if op.error:
                op.seconds = None
        passes += 1
    _record_e2e(r, setup_s, ingest_s)


def _record_e2e(r: Run, setup_s: float, ingest_s: float) -> None:
    ok = [op for op in r.ops if op.error is None]

    def timing(xs: list[float], unit: str) -> dict:
        return {"value": median(xs) if xs else None, "unit": unit, "samples": len(xs)}

    r.detail["workload_metrics"] = {
        "ingest_s": timing([ingest_s], "s"),
        "sync_p50_s": timing([op.seconds for op in ok if op.kind == "sync"], "s"),
        **{f"{k}_p50_ms": timing([1e3 * op.seconds for op in ok if op.kind == k], "ms")
           for k in READ_KINDS},
    }
    r.record_e2e(setup_s)


def _parquet_files(table: str, live_only: bool) -> dict[str, int]:
    """{path: bytes} of the table's data files; live ones sit in the
    `level=N/` directories, retired ones under `_history/`."""
    out = {}
    for root, dirs, files in os.walk(table):
        if live_only and os.path.relpath(root, table).startswith("_"):
            dirs.clear()
            continue
        for f in files:
            if f.endswith(".parquet"):
                out[os.path.join(root, f)] = os.path.getsize(os.path.join(root, f))
    return out


def _traced(r: Run, serve: _Serve, plan: list[tuple], corpus, corpus_bytes: int,
            session_s: float) -> None:
    """One traced pass with spans around the calls into each layer,
    then the three ingest layers timed alone over the whole corpus."""
    import pyarrow.parquet as pq

    from wilayah_aceh_etl_spark.functions.geometry import normalize_geojson_str
    from wilayah_aceh_etl_spark.sources.geojson import read_features

    W, table = serve.W, serve.table
    tracer, stats = Tracer(), JobStats(r.spark)

    def noop(df) -> float:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    reads, syncs = [], []
    for i, (kind, arg) in enumerate(plan):
        oid = f"{i}:{kind}"
        op = Op(kind, "write" if kind == "sync" else "read", 0)
        r.ops.append(op)
        before = r.persisted()
        try:
            if kind == "sync":
                live_before = _parquet_files(table, live_only=True)
                with tracer.span("op", op=oid) as sp_op:
                    with stats.group(oid), tracer.span("operators.wilayah.sync") as sp_a:
                        _, n = serve.sync(*arg)
                op.error = serve.check_sync(*arg, n)
                build_jobs, jobs = [], stats.jobs([oid])
                added = set(_parquet_files(table, live_only=True)) - set(live_before)
                last = W.table_history(table)[-1]
                rec = {"files_added": last["n_added"], "files_removed": last["n_removed"],
                       "rows_synced": n,
                       "rows_added": sum(pq.ParquetFile(p).metadata.num_rows for p in added),
                       "merge_s": Tracer.seconds(sp_a) - noop(
                           W.ingest_features(r.spark, serve.dirs[arg[0]], arg[1], clock=serve.clock))}
            else:
                with tracer.span("op", op=oid) as sp_op:
                    with tracer.span("operators.wilayah.load") as sp_l:
                        tab = W.load_wilayah(r.spark, table)
                    with stats.group(f"{oid}:build"), tracer.span("plans.build") as sp_b:
                        df = serve.build(kind, arg, tab)
                    with tracer.span("plans.plan") as sp_p:
                        df._jdf.queryExecution().executedPlan()
                    with stats.group(f"{oid}:action"), tracer.span("operators.action") as sp_a:
                        rows = df.collect()
                op.error = serve.check_read(kind, arg, rows)
                build_jobs, jobs = stats.jobs([f"{oid}:build"]), stats.jobs([f"{oid}:action"])
                rec = {"load_s": Tracer.seconds(sp_l), "build_s": Tracer.seconds(sp_b),
                       "build_jobs": len(build_jobs), "plan_s": Tracer.seconds(sp_p),
                       "rows_returned": len(rows),
                       "files_read": stats.files_read([j["jobId"] for j in jobs]),
                       "live_files": W.table_history(table)[-1]["n_files"],
                       "collect_s": stats.collect_tail(jobs, sp_a["end"])}
        except Exception as exc:
            op.error = error_text("traced", exc)
        if op.error:
            continue
        op.seconds = Tracer.seconds(sp_op)
        rec.update(stats.summary(jobs), kind=kind, op_s=op.seconds,
                   action_s=Tracer.seconds(sp_a), persist_leaked=r.persisted() - before,
                   driver_gap_s=stats.driver_gap(build_jobs + jobs, (sp_op["start"], sp_op["end"])))
        (syncs if kind == "sync" else reads).append(rec)

    with tracer.span("sources.geojson.scan", op="layers") as sp_scan:
        noop(read_features(r.spark, serve.dirs["a"]))
    geoms = [json.dumps(f.geometry) for f in corpus.a]
    with tracer.span("functions.geometry.kernel", op="layers") as sp_kernel:
        out = [normalize_geojson_str(g) for g in geoms]
    with tracer.span("operators.wilayah.ingest", op="layers") as sp_ingest:
        noop(W.ingest_features(r.spark, serve.dirs["a"], clock=SYNC_CLOCK))

    def total(recs: list[dict], key: str) -> float:
        return sum(rec[key] for rec in recs)

    ops = reads + syncs
    r.record_op_layers(ops, session_s)
    r.record("sources.geojson.scan_s", Tracer.seconds(sp_scan), "s")
    r.record("sources.geojson.input_bytes", corpus_bytes, "bytes")
    r.record("functions.geometry.kernel_s", Tracer.seconds(sp_kernel), "s")
    r.record("functions.geometry.vertices_in", sum(f.vertices for f in corpus.a), "count")
    r.record("functions.geometry.vertices_out", sum(
        len(ring) for g in out if g for poly in json.loads(g)["coordinates"] for ring in poly
    ), "count")
    r.record("operators.wilayah.ingest_s", Tracer.seconds(sp_ingest), "s")
    r.record("operators.wilayah.merge_s", total(syncs, "merge_s"), "s")
    r.record("operators.wilayah.files_added", total(syncs, "files_added"), "count")
    r.record("operators.wilayah.files_removed", total(syncs, "files_removed"), "count")
    r.record("operators.wilayah.rows_rewritten_per_row_synced",
             total(syncs, "rows_added") / max(1, total(syncs, "rows_synced")), "ratio")
    r.record("operators.wilayah.space_amp",
             sum(_parquet_files(table, False).values()) / sum(_parquet_files(table, True).values()),
             "ratio")
    r.record("operators.wilayah.load_s", total(reads, "load_s"), "s")
    r.record("operators.wilayah.files_read_ratio",
             median([rec["files_read"] / rec["live_files"] for rec in reads]) if reads else 0.0,
             "ratio")
    r.record("trace.pass_s", total(ops, "op_s"), "s")
    r.record("trace.overhead_s", tracer.overhead_s + stats.overhead_s, "s")
    r.record("trace.op_self_s", tracer.self_seconds().get("op", 0.0), "s")
    r.detail["per_op"] = ops
    r.detail["self_s"] = tracer.self_seconds()
    r.detail["spans_file"] = r.write_spans(tracer)
