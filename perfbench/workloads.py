"""The workloads: one closed-loop client each, on a ``local[4]`` session.

Each workload repeats a *cycle* until the measuring time is used up (at
least one cycle always completes):

- ``lakehouse``: a fragmented bulk load is compacted by ``full_maintenance``,
  read back with point lookups and range reads, then goes through upsert
  rounds (append, MERGE, merge-on-read delete, lookups) and an incremental
  ``full_maintenance``;
- ``query_suite``: one pass over the suite's queries in a seeded order.

Operations are timed one by one; results are checked outside the timed
regions.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from octocode_spark.functions.digest import group_counts, table_digest
from octocode_spark.lakehouse import LakeTable, Ledger, maintenance, merge, table
from perfbench import gen
from perfbench.stats import geomean, median, tail
from perfbench.trace import Shims, Tracer

CORES = 4

# The query suite: the ten headline queries of bench.py, then the vector
# folds (q18, q30, q37, q62). q12_text_metrics stays out: it alone takes
# about 64 s warm at sf0.01 on this 4-core host.
QUERIES = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q06_top3_orders_per_customer",
    "q07_cumulative_quantity",
    "q08_weighted_rrf_users",
    "q16_ngram_jaccard_pairs",
    "q17_cosine_topk",
    "q19_asof_last_click_before_purchase",
    "q21_events_within_hour_after_purchase",
    "q26_sketch_signatures",
    "q18_centroid_per_label",
    "q30_embedding_near_pairs",
    "q37_embedding_near_dups_exact",
    "q62_rq1_persisted_search",
]
# rows-only queries (no DuckDB oracle): expected row count = rows of this table
ROWS_ONLY_TABLE = {"q26_sketch_signatures": "documents"}


@dataclass(frozen=True)
class Sizes:
    rows: int = 12_000             # rows of the bulk load
    fragments: int = 24            # append tasks of the bulk load; files ≈ fragments × 12 sources
    target_mb: float = 2.0         # full_maintenance target file size
    point_lookups: int = 6         # doc_id point lookups after the first maintenance
    range_reads: int = 2           # n_tok range reads after the first maintenance
    rounds: int = 2                # upsert rounds per cycle
    append_rows: int = 500         # rows per append micro-batch
    merge_rows: int = 500          # MERGE source rows per round
    delete_keys: int = 120         # keys per merge-on-read delete
    round_lookups: int = 3         # point lookups per round and after the last maintenance
    query_scale: float = 0.01      # query_suite tables, TPC-H scale factor


FULL = Sizes()
TINY = Sizes(rows=1_500, fragments=4, target_mb=0.25, point_lookups=2, range_reads=1,
             rounds=2, append_rows=60, merge_rows=60, delete_keys=15, round_lookups=3,
             query_scale=0.001)


def now_ms() -> int:
    return int(time.time() * 1000)


@dataclass
class Run:
    """State shared by a workload's cycles."""

    spark: object
    work: str
    seed: int
    sizes: Sizes
    tracer: Tracer
    samples: dict[str, list[float]] = field(default_factory=dict)
    traced_samples: dict[str, list[float]] = field(default_factory=dict)
    cycle_walls: list[tuple[float, bool]] = field(default_factory=list)
    op_seconds: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)

    @contextmanager
    def timed(self, kind: str, layer: str = "bench"):
        """One timed engine operation; a raise counts as a failed op."""
        self.attempted += 1
        with self.tracer.span(f"op.{kind}", layer):
            t0 = time.perf_counter()
            yield
            secs = time.perf_counter() - t0
        self.op_seconds += secs
        dest = self.traced_samples if self.tracer.recording else self.samples
        dest.setdefault(kind, []).append(secs)

    @contextmanager
    def bookkeeping(self, name: str):
        """Benchmark work around the ops: input prep and result checks."""
        with self.tracer.span(f"bench.{name}", "bench"), self.tracer.paused():
            yield

    @contextmanager
    def phase(self, name: str):
        """A timed step of set-up, reported with the run's facts."""
        t0 = time.perf_counter()
        yield
        self.facts.setdefault("setup_phases_s", {})[name] = round(time.perf_counter() - t0, 3)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


def install_shims(shims: Shims) -> None:
    """Span wrappers on the layers below the benchmark's own calls."""
    tracer = shims.tracer

    def on_commit(args, ok, _orig):
        if not ok:
            tracer.count("metadata.cas_lost")
            return
        tracer.count("metadata.commits")
        meta = args["meta"]
        path = os.path.join(args["root"], "metadata", f"v{meta.version}.metadata.json")
        if os.path.exists(path):
            tracer.sample("metadata.bytes_per_commit", os.path.getsize(path))

    def on_plan(args, files, orig):
        if args.get("partition_filter") or args.get("stat_filter"):
            tracer.count("table.plans_filtered")
            tracer.count("table.plan_files_kept", len(files))
            tracer.count("table.plan_files_total", len(orig(args["self"], args.get("snapshot_id"))))

    def on_rewrite(_args, res, _orig):
        tracer.count("maintenance.files_in", res.files_in)
        tracer.count("maintenance.files_out", res.files_out)
        tracer.count("maintenance.bytes_in", res.bytes_in)

    def on_merge(args, stats, _orig):
        t = args["table"]
        live_after = len(t.files())
        live_before = live_after + stats.files_rewritten - stats.files_added
        snap = t.meta.snapshot(stats.snapshot_id)
        tracer.count("merge.calls")
        tracer.count("merge.files_live", live_before)
        tracer.count("merge.files_rewritten", stats.files_rewritten)
        tracer.count("merge.files_pruned_by_stats",
                     (snap.summary or {}).get("files-pruned-by-stats", 0) if snap else 0)

    shims.add(table, "write_metadata_exclusive", "lakehouse.metadata", on_commit)
    shims.add(table, "load_latest_metadata", "lakehouse.metadata")
    shims.add(table, "read_manifest", "lakehouse.metadata",
              lambda *_: tracer.count("metadata.manifest_reads"))
    shims.add(table, "write_manifest", "lakehouse.metadata",
              lambda *_: tracer.count("metadata.manifest_writes"))
    shims.add(LakeTable, "files", "lakehouse.table", on_plan)
    for attr in ("read", "read_files", "append", "replace_files", "delete_where_keys",
                 "rewrite_manifests", "expire_snapshots", "remove_orphan_files"):
        shims.add(LakeTable, attr, "lakehouse.table")
    shims.add(Ledger, "write", "lakehouse.ledger", lambda *_: tracer.count("ledger.writes"))
    for attr in ("mark_pending", "mark_done", "get", "all_rows", "done_partitions", "clear"):
        shims.add(Ledger, attr, "lakehouse.ledger")
    shims.add(maintenance, "full_maintenance", "lakehouse.maintenance")
    shims.add(maintenance, "plan_compaction", "lakehouse.maintenance")
    shims.add(maintenance, "rewrite_global", "lakehouse.maintenance", on_rewrite)
    shims.add(maintenance, "rewrite_partitions", "lakehouse.maintenance", on_rewrite)
    shims.add(maintenance, "prune_dangling_delete_sidecars", "lakehouse.maintenance")
    shims.add(merge, "merge_into", "lakehouse.merge", on_merge)


# ---------------------------------------------------------------- helpers

def live_bytes(t) -> dict[str, int]:
    return {f.path: f.bytes for f in t.files() + t.delete_files()}


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _s, names in os.walk(root) for n in names
    )


def lookup(run: Run, t, doc_id: str) -> list:
    """Point lookup through the table's planner (doc_id min/max pruning)."""
    return (
        t.read(run.spark, stat_filter=table.stat_range_filter("doc_id", doc_id, doc_id))
        .filter(F.col("doc_id") == doc_id)
        .collect()
    )


def row_matches(got: list, expected: dict | None) -> bool:
    if expected is None:
        return not got
    if len(got) != 1:
        return False
    r = got[0]
    return (r["doc_id"], list(r["tokens"]), r["n_tok"], r["source"]) == (
        expected["doc_id"], expected["tokens"], expected["n_tok"], expected["source"])


def create_fragmented(run: Run, root: str, rows, fragments: int):
    """A sequences table whose one logical append lands as many small files."""
    src = gen.write_parquet(rows, os.path.join(run.work, "input", os.path.basename(root)))
    df = run.spark.read.parquet(src)
    t = LakeTable.create(root, df.schema, partition_by=["source"], stat_cols=["n_tok", "doc_id"])
    t.append(df.repartition(fragments))
    return t


def maintain_table(run: Run, t) -> dict:
    ledger = Ledger(os.path.join(run.work, "ledger"))
    ledger.clear()
    return maintenance.full_maintenance(
        run.spark, t, ledger=ledger,
        target_file_size=int(run.sizes.target_mb * (1 << 20)),
        expire_older_than_ms=now_ms(),
    )


# ---------------------------------------------------------------- lakehouse

class Lakehouse:
    """A table's life in one cycle: compact a fragmented bulk load, then upsert.

    Every cycle starts from a fresh copy of the same fragmented table:

    1. ``full_maintenance`` over it: nearly every file is small, so this is
       the whole-table ``rewrite_global`` path;
    2. seeded doc_id point lookups and n_tok range reads on the result;
    3. ``rounds`` upsert rounds: an append micro-batch, a MERGE (60% updates,
       30% inserts, 10% deletes, fresh keys every round), a merge-on-read
       ``delete_where_keys``, and lookups of just-written and just-deleted
       keys — commit-heavy, so history and manifest count grow;
    4. an incremental ``full_maintenance`` over what the rounds left behind,
       and lookups again.

    The benchmark keeps its own model of the table (id → row version) and
    builds every expected row from it with the generator, so the checks never
    use the engine's MERGE or delete. Checks run outside the timed regions.
    """

    # a cycle is a whole table life, so the first one measures what a freshly
    # started job sees
    warm_up_cycles = 0
    min_cycles = 1

    def __init__(self, run: Run):
        self.run = run
        self.cycle_no = 0

    def setup(self) -> None:
        run, sz = self.run, self.run.sizes
        rows = gen.sequence_rows(np.arange(sz.rows), np.zeros(sz.rows), run.seed)
        self.load_logical = gen.logical_bytes(rows)
        self.template = os.path.join(run.work, "template")
        with run.phase("append_fragmented"):
            t = create_fragmented(run, self.template, rows, sz.fragments)
        self.load_bytes = sum(live_bytes(t).values())
        with run.phase("expected_digest"):
            self.digest = table_digest(t.read(run.spark))
            self.groups = sorted(tuple(r) for r in group_counts(t.read(run.spark)).collect())
        rng = np.random.default_rng([run.seed, 1])
        self.points = [int(i) for i in rng.choice(sz.rows, sz.point_lookups, replace=False)]
        n_tok = rows.column("n_tok").to_numpy()
        self.ranges = []
        for lo in rng.integers(16, 2048 - 64, sz.range_reads):
            hi = int(lo) + 48
            self.ranges.append((int(lo), hi, int(((n_tok >= lo) & (n_tok <= hi)).sum())))
        run.facts.update(rows=sz.rows, files_in=len(t.files()),
                         table_mb=round(self.load_bytes / 1e6, 2),
                         logical_mb=round(self.load_logical / 1e6, 2))

    def cycle(self) -> None:
        run = self.run
        root = os.path.join(run.work, f"run-{self.cycle_no}")
        self.cycle_no += 1
        with run.bookkeeping("prep"):
            shutil.copytree(self.template, root)
            t = LakeTable.load(root)
            self.seen = live_bytes(t)
        try:
            self._life(t, root)
        finally:
            with run.bookkeeping("cleanup"):
                shutil.rmtree(root, ignore_errors=True)

    def _life(self, t, root: str) -> None:
        run, sz = self.run, self.run.sizes
        dest = run.traced_samples if run.tracer.recording else run.samples
        ops0 = run.op_seconds
        model = {i: 0 for i in range(sz.rows)}
        self.lookups: list[tuple[int, int | None, list]] = []
        self.committed = self.load_bytes
        self.changed_logical = self.load_logical
        self.next_id = sz.rows

        with run.timed("maintenance"):
            out = maintain_table(run, t)
        dest.setdefault("rewrite_bytes", []).append(out["rewrite"].bytes_in)
        with run.bookkeeping("check"):
            run.check(table_digest(t.read(run.spark)) == self.digest, "digest after maintenance")
            groups = sorted(tuple(r) for r in group_counts(t.read(run.spark)).collect())
            run.check(groups == self.groups, "group_counts after maintenance")
            self._commit_bytes(t)
        for i in self.points:
            self._lookup(t, i, model)
        for lo, hi, want in self.ranges:
            with run.timed("lookup"):
                n = (t.read(run.spark, stat_filter=table.stat_range_filter("n_tok", lo, hi))
                     .filter(F.col("n_tok").between(lo, hi)).count())
            run.check(n == want, f"n_tok range {lo}..{hi}: {n} rows, expected {want}")

        for r in range(sz.rounds):
            self._round(t, model, r)

        with run.timed("maintenance_incremental"):
            maintain_table(run, t)
        rng = np.random.default_rng([run.seed, 4])
        for i in rng.choice(self.next_id, sz.round_lookups, replace=False):
            self._lookup(t, int(i), model)
        dest.setdefault("ops", []).append(run.op_seconds - ops0)

        with run.bookkeeping("check"):
            self._commit_bytes(t)
            want = [(i, v) for i, v, _ in self.lookups if v is not None]
            rows = gen.sequence_rows([i for i, _ in want], [v for _, v in want], run.seed).to_pylist()
            expected = dict(zip(want, rows))
            for i, v, got in self.lookups:
                run.check(row_matches(got, expected[(i, v)] if v is not None else None),
                          f"lookup of id {i}: expected version {v}")
            ids = np.array(sorted(model))
            exp_rows = gen.sequence_rows(ids, [model[i] for i in ids], run.seed)
            exp_dir = gen.write_parquet(exp_rows, os.path.join(run.work, "expected"), files=4)
            run.check(
                table_digest(t.read(run.spark)) == table_digest(run.spark.read.parquet(exp_dir)),
                "final digest vs the benchmark's model",
            )
            shutil.rmtree(exp_dir, ignore_errors=True)
            live = sum(live_bytes(t).values())
            dest.setdefault("write_amp", []).append(self.committed / self.changed_logical)
            dest.setdefault("space_amp", []).append(tree_bytes(root) / live)
            dest.setdefault("manifests_live", []).append(len(t.meta.snapshot().manifests))
            run.facts.update(live_rows=len(model))

    def _lookup(self, t, i: int, model: dict) -> None:
        doc_id = gen.doc_ids(np.array([i]), self.run.seed)[0]
        with self.run.timed("lookup"):
            got = lookup(self.run, t, doc_id)
        self.lookups.append((i, model.get(i), got))

    def _commit_bytes(self, t) -> None:
        now = live_bytes(t)
        self.committed += sum(b for p, b in now.items() if p not in self.seen)
        self.seen = now

    def _round(self, t, model: dict, r: int) -> None:
        run, sz = self.run, self.run.sizes
        rng = np.random.default_rng([run.seed, 2, r])
        base = os.path.join(run.work, "round")
        with run.bookkeeping("prep"):
            keys = np.array(sorted(model))
            n_upd, n_del = int(sz.merge_rows * 0.6), int(sz.merge_rows * 0.1)
            n_ins = sz.merge_rows - n_upd - n_del
            touched = rng.choice(keys, n_upd + n_del + sz.delete_keys, replace=False)
            upd, mdel, kdel = np.split(touched, [n_upd, n_upd + n_del])
            ins = np.arange(self.next_id, self.next_id + n_ins)
            app = np.arange(self.next_id + n_ins, self.next_id + n_ins + sz.append_rows)
            self.next_id += n_ins + sz.append_rows
            app_rows = gen.sequence_rows(app, np.zeros(len(app)), run.seed)
            upd_v = np.array([model[i] + 1 for i in upd], dtype=np.int64)
            src_ids = np.concatenate([upd, ins, mdel])
            src_v = np.concatenate([upd_v, np.zeros(len(ins), dtype=np.int64),
                                    np.array([model[i] for i in mdel], dtype=np.int64)])
            flags = np.zeros(len(src_ids), dtype=bool)
            flags[len(upd) + len(ins):] = True
            src = gen.sequence_rows(src_ids, src_v, run.seed).append_column("deleted", pa.array(flags))
            kdel_rows = gen.sequence_rows(kdel, [model[i] for i in kdel], run.seed)
            shutil.rmtree(base, ignore_errors=True)
            app_dir = gen.write_parquet(app_rows, os.path.join(base, "append"))
            src_dir = gen.write_parquet(src, os.path.join(base, "merge"))
            del_dir = gen.write_parquet(kdel_rows.select(["doc_id"]), os.path.join(base, "delete"))
            self.changed_logical += sum(gen.logical_bytes(x) for x in (app_rows, src, kdel_rows))
        spark = run.spark
        with run.timed("append"):
            t.append(spark.read.parquet(app_dir))
        with run.timed("merge"):
            merge.merge_into(spark, t, spark.read.parquet(src_dir))
        with run.timed("delete"):
            t.delete_where_keys(spark, spark.read.parquet(del_dir))
        with run.bookkeeping("model"):
            model.update({int(i): 0 for i in np.concatenate([app, ins])})
            model.update({int(i): int(v) for i, v in zip(upd, upd_v)})
            for i in np.concatenate([mdel, kdel]):
                del model[int(i)]
            self._commit_bytes(t)
        for i in (upd[0], ins[0], mdel[0], kdel[0], app[-1])[: sz.round_lookups]:
            self._lookup(t, int(i), model)

    def work_s(self) -> float:
        return median(self.run.samples["ops"])

    def read_s(self) -> float:
        return median(self.run.samples["lookup"])

    def finish(self) -> None:
        pass


# ---------------------------------------------------------------- query_suite

def load_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QuerySuite:
    """The suite's queries through ``__spark_entry__.queries()``.

    The seed draws the tables' contents and the query order. A pass collects
    every query's result. The first pass, in set-up, runs each query for the
    first time in the session (plan compilation, JIT, Python workers); its
    results are the ones checked against the DuckDB oracle with
    ``tools/check_oracle.py``'s comparison. Measured passes run warm; a
    query's time is its fastest of them, because a stall of the shared host
    only ever adds time.
    """

    warm_up_cycles = 1
    min_cycles = 2

    def __init__(self, run: Run, repo: str):
        self.run = run
        self.repo = repo
        self.results: dict | None = None

    def setup(self) -> None:
        run = self.run
        self.data = os.path.join(run.work, "tables")
        with run.phase("generate_tables"):
            self.counts = gen.query_tables(self.data, run.seed, run.sizes.query_scale)
        entry = load_module(os.path.join(self.repo, "__spark_entry__.py"), "__spark_entry__")
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        order = np.random.default_rng([run.seed, 3]).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]
        run.facts.update(tables=self.counts, order=self.order)

    def cycle(self) -> None:
        run = self.run
        results = {}
        t0 = time.perf_counter()
        for name in self.order:
            with run.timed(f"query:{name}", "queries"):
                df = self.queries[name](run.spark, self.data)
                rows = [tuple(r) for r in df.collect()]
            results[name] = (df.columns, rows)
        dest = run.traced_samples if run.tracer.recording else run.samples
        dest.setdefault("pass", []).append(time.perf_counter() - t0)
        if self.results is None:
            self.results = results

    def finish(self) -> None:
        if self.results is not None:
            with self.run.bookkeeping("check"):
                self.check(self.results, self.oracles, self.counts)

    def check(self, results: dict, oracles: dict, counts: dict) -> None:
        import duckdb

        run = self.run
        oracle = load_module(os.path.join(self.repo, "tools", "check_oracle.py"), "check_oracle")
        con = duckdb.connect()
        try:
            for tname in counts:
                path = os.path.join(self.data, f"{tname}.parquet")
                con.sql(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{path}')")
            for name, (cols, rows) in results.items():
                if name not in oracles:
                    want = counts[ROWS_ONLY_TABLE[name]] if name in ROWS_ONLY_TABLE else None
                    run.check(bool(rows) and (want is None or len(rows) == want),
                              f"{name}: {len(rows)} rows, expected {want}")
                    continue
                rel = con.sql(oracles[name])
                drows = rel.fetchall()
                same = len(rows) == len(drows) and (
                    oracle.value_hash(cols, rows) == oracle.value_hash(rel.columns, drows))
                run.check(same, f"{name}: differs from the DuckDB oracle")
        finally:
            con.close()

    def per_query(self, samples: dict) -> dict[str, float]:
        return {q: min(samples[f"query:{q}"]) for q in QUERIES if f"query:{q}" in samples}

    def work_s(self) -> float:
        return sum(self.per_query(self.run.samples).values())

    def read_s(self) -> float:
        return geomean(list(self.per_query(self.run.samples).values()))


def op_metrics(w, s: dict) -> dict[str, float]:
    """The per-operation figures behind ``work_s`` and ``read_s``."""

    def p50(k: str) -> float:
        return median(s[k]) if s.get(k) else 0.0

    def tl(k: str) -> float:
        t = tail(s.get(k, []))
        return t[0] if t else 0.0

    out = {
        "maintenance_s": p50("maintenance"),
        "maintenance_incremental_s": p50("maintenance_incremental"),
        "rewrite_gbps": (
            median([b / 1e9 / m for b, m in zip(s["rewrite_bytes"], s["maintenance"])])
            if s.get("rewrite_bytes") else 0.0
        ),
        "merge_p50_s": p50("merge"),
        "merge_tail_s": tl("merge"),
        "delete_p50_s": p50("delete"),
        "lookup_p50_s": p50("lookup"),
        "lookup_tail_s": tl("lookup"),
        "upsert_rows_per_s": 0.0,
        "write_amp": p50("write_amp"),
        "space_amp": p50("space_amp"),
        "query_total_s": 0.0,
        "query_geomean_s": 0.0,
    }
    if s.get("merge"):
        sz = w.run.sizes
        changed = sz.append_rows + sz.merge_rows + sz.delete_keys
        loop = sum(p50(k) for k in ("append", "merge", "delete"))
        out["upsert_rows_per_s"] = changed / loop
    if isinstance(w, QuerySuite) and s.get("pass"):
        per = w.per_query(s)
        out["query_total_s"] = sum(per.values())
        out["query_geomean_s"] = geomean(list(per.values()))
    return out
