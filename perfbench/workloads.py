"""The benchmark's closed-loop workloads.

Each workload writes its seeded inputs once in ``generate`` (untimed),
builds its starting state from them through the engine in ``setup``
(timed, and repeatable: each call starts again from the inputs), and then runs
operations one at a time (one client; the next operation starts only
after the previous one returns). Operations come in *blocks*: a fixed
sequence of operation kinds whose parameters are drawn from the seed. A
run measures whole blocks from a fresh session, as a scheduled job
would, so every run carries the same operations in the same order.

Every operation is checked against a model the benchmark keeps itself
(row counts and key checksums), or, for registry queries, against the
DuckDB oracle. A wrong result is recorded as a failed operation; the run
goes on.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa

from . import datagen

SIZES = {
    # full: what the benchmark measures. smoke: what its tests run.
    "full": {
        "etl_base": 150_000, "etl_append": 2_000, "etl_merge": 1_000,
        "vr_commits": 160, "vr_files": 8, "vr_rows": 40,
        "docs": 300, "vecs": 300,
    },
    "smoke": {
        "etl_base": 1_500, "etl_append": 100, "etl_merge": 50,
        "vr_commits": 24, "vr_files": 3, "vr_rows": 10,
        "docs": 200, "vecs": 200,
    },
}


@dataclass
class Op:
    kind: str
    params: dict[str, Any] = field(default_factory=dict)


@dataclass
class Result:
    kind: str
    seconds: float
    ok: bool
    detail: str = ""


class Workload:
    name = ""
    block: list[str] = []
    # whole blocks a run measures at least, sized so that on a 4-core box
    # they take longer than the run's --seconds: every run then measures
    # the same operations, and percentiles compare like with like
    min_blocks = 1
    # run one block untimed before measuring
    warm_up_first = False

    def __init__(self, spark, root: str, seed: int, sizes: dict[str, int]):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.sizes = sizes
        # the active Tracer while a traced operation runs, else None; set
        # by the measuring loop
        self.tracer = None
        self.rng = datagen.rng(seed, 10)

    def plan_block(self) -> list[Op]:
        """The next block of operations: the block's kinds in their fixed
        order, each with parameters drawn from the seed. The order is
        fixed because an operation's cost depends on what ran before it
        (files appended before a MERGE, plans compiled by an earlier
        query), and a seeded order would move that cost between runs."""
        return [self.plan(kind) for kind in self.block]

    def plan(self, kind: str) -> Op:
        return Op(kind)

    def generate(self) -> None:
        """Write the seeded inputs. Untimed, and run once per run."""

    def setup(self) -> None:
        """Build the starting state from the generated inputs through the
        engine; each call starts again from scratch. Timed."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Run one block untimed, checks included."""
        for op in self.plan_block():
            self.run(op)

    def run(self, op: Op) -> Result:
        raise NotImplementedError

    def summary(self, results: list[Result]) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures: name -> (value, unit)."""
        return {}

    def timed(self, kind: str, fn) -> tuple[float, Any]:
        """Run ``fn`` as the operation's timed region. When tracing, the
        region is the operation's root span; engine spans opened outside
        a root span (the benchmark's own checks) are not recorded."""
        tr = self.tracer
        span = tr.open(f"op.{kind}") if tr else None
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            secs = time.perf_counter() - t0
            if tr:
                tr.close(span)
        return secs, out


def _p50(values: list[float]) -> float:
    return float(np.median(values)) if values else float("nan")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        if "_delta_log" in root:
            continue
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


# --------------------------------------------------------------------------
# etl_commits: appends, MERGE upserts, DELETE/UPDATE, OPTIMIZE, VACUUM
# --------------------------------------------------------------------------

_STATUS_CODE = {"O": 1, "P": 2, "F": 3, "U": 4}
_CHECKSUM_SQL = (
    "count(*) AS n",
    "sum(o_orderkey) AS keys",
    "sum(cast(round(o_totalprice * 100) AS bigint)) AS cents",
    "sum((CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'P' THEN 2 WHEN 'F' THEN 3 "
    "ELSE 4 END) * (o_orderkey % 1000)) AS status_sum",
)


class OrdersModel:
    """The expected table, kept by the benchmark: key -> (customer,
    status, price in cents, year). Rows are tuples of atomic values, which
    the garbage collector stops tracking, so 150k of them add nothing to
    the collections that run inside timed operations."""

    def __init__(self, table: pa.Table):
        self.rows: dict[int, tuple] = {}
        self.add(table)

    def add(self, table: pa.Table) -> None:
        d = table.to_pydict()
        for k, c, s, p, y in zip(
            d["o_orderkey"], d["o_custkey"], d["o_orderstatus"], d["o_totalprice"], d["o_year"]
        ):
            self.rows[k] = (c, s, round(p * 100), y)

    def checksum(self) -> tuple[int, int, int, int]:
        n = len(self.rows)
        keys = sum(self.rows)
        cents = sum(r[2] for r in self.rows.values())
        status = sum(_STATUS_CODE[r[1]] * (k % 1000) for k, r in self.rows.items())
        return n, keys, cents, status


def _with_year(table: pa.Table) -> pa.Table:
    years = np.asarray(table.column("o_orderdate").to_numpy(), dtype="datetime64[Y]")
    return table.append_column("o_year", pa.array(years.astype(np.int32) + 1970))


class EtlCommits(Workload):
    name = "etl_commits"
    # one ingest cycle. The kinds are the reference pipeline's steps; the
    # counts are assumed, not measured: seven appends of thirteen keep the
    # median inside one kind, so op_p50_s is an append latency and the
    # other kinds move ops_per_s (see README.md, "Operation mixes").
    block = [
        "append", "append", "append", "merge", "append", "append", "append", "merge",
        "append", "delete", "update", "optimize", "vacuum",
    ]
    # from a cold start the appends speed up over the first block, and the
    # median landed on that slope; after one untimed block it lands among
    # steady appends
    warm_up_first = True

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.table = os.path.join(self.root, "orders_delta")
        self.landing = os.path.join(self.root, "landing")
        self.next_key = self.sizes["etl_base"]
        self.n_ops = 0
        self.space_amp: list[float] = []

    def generate(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        base = _with_year(datagen.orders(self.seed, self.sizes["etl_base"]))
        datagen.write(base, os.path.join(self.landing, "base.parquet"))
        self.model = OrdersModel(base)
        self.spark.conf.set("spark.delta_lake_spark.retentionDurationCheck.enabled", "false")

    def setup(self) -> None:
        from delta_lake_spark import write_delta

        shutil.rmtree(self.table, ignore_errors=True)
        base = self.spark.read.parquet(os.path.join(self.landing, "base.parquet"))
        write_delta(base, self.table, partition_by=["o_year"])

    def plan(self, kind: str) -> Op:
        r = self.rng
        if kind == "append":
            n = self.sizes["etl_append"]
            op = Op(kind, {"first_key": self.next_key, "n": n, "stream": int(r.integers(1 << 30))})
            self.next_key += n
        elif kind == "merge":
            n = self.sizes["etl_merge"]
            op = Op(kind, {
                "first_key": self.next_key, "n_new": n // 2,
                "pick": int(r.integers(1 << 30)), "n_old": n - n // 2,
                "stream": int(r.integers(1 << 30)),
            })
            self.next_key += n // 2
        elif kind == "delete":
            op = Op(kind, {"mod": 500, "rem": int(r.integers(500))})
        elif kind == "update":
            op = Op(kind, {"year": int(r.integers(1995, 2002)), "rem": int(r.integers(20))})
        else:
            op = Op(kind)
        return op

    def warm_up(self) -> None:
        # appends and MERGEs speed up over the first block; DELETE, UPDATE,
        # OPTIMIZE and VACUUM ran as fast there as later, so the warm-up
        # stops after the block's second MERGE
        for kind in self.block[: self.block.index("merge", 4) + 1]:
            self.run(self.plan(kind))
        self.space_amp = []

    def _stage(self, table: pa.Table):
        self.n_ops += 1
        path = os.path.join(self.landing, f"batch_{self.n_ops}.parquet")
        datagen.write(table, path)
        return self.spark.read.parquet(path)

    def run(self, op: Op) -> Result:
        from delta_lake_spark import DeltaTable, write_delta

        spark, p = self.spark, op.params
        changed = 0
        if op.kind == "append":
            batch = _with_year(datagen.orders(self.seed, p["n"], p["first_key"], p["stream"]))
            df = self._stage(batch)
            self._before()
            secs, _ = self.timed(op.kind, lambda: write_delta(df, self.table, mode="append"))
            self.model.add(batch)
        elif op.kind == "merge":
            new = _with_year(datagen.orders(self.seed, p["n_new"], p["first_key"], p["stream"]))
            live = np.fromiter(self.model.rows, dtype=np.int64)
            pick = datagen.rng(self.seed, p["pick"]).choice(live, size=min(p["n_old"], len(live)), replace=False)
            old = _with_year(datagen.orders(self.seed, len(pick), 0, p["stream"] + 1))
            # matched rows keep their key, customer, date and partition; the
            # price and status change
            old_d = old.to_pydict()
            years = [self.model.rows[int(k)][3] for k in pick]
            old_d["o_orderkey"] = [int(k) for k in pick]
            old_d["o_custkey"] = [self.model.rows[int(k)][0] for k in pick]
            old_d["o_orderstatus"] = ["U"] * len(pick)
            old_d["o_orderdate"] = [np.datetime64(f"{y}-06-01", "us").item() for y in years]
            old_d["o_year"] = years
            old = pa.table(old_d, schema=new.schema)
            src = pa.concat_tables([new, old])
            df = self._stage(src)
            self._before()
            dt = DeltaTable.forPath(spark, self.table).alias("t")
            secs, _ = self.timed(
                op.kind,
                lambda: dt.merge(df.alias("s"), "t.o_orderkey = s.o_orderkey")
                .when_matched_update_all()
                .when_not_matched_insert_all()
                .execute()
            )
            self.model.add(src)
            changed = len(pick)
        elif op.kind == "delete":
            cond = f"o_custkey % {p['mod']} = {p['rem']}"
            self._before()
            secs, _ = self.timed(op.kind, lambda: DeltaTable.forPath(spark, self.table).delete(cond))
            gone = [k for k, r in self.model.rows.items() if r[0] % p["mod"] == p["rem"]]
            for k in gone:
                del self.model.rows[k]
            changed = len(gone)
        elif op.kind == "update":
            cond = f"o_year = {p['year']} AND o_orderkey % 20 = {p['rem']}"
            self._before()
            secs, _ = self.timed(
                op.kind,
                lambda: DeltaTable.forPath(spark, self.table).update(
                    cond, {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice + 1"}
                )
            )
            rows = self.model.rows
            for k in [k for k, r in rows.items() if r[3] == p["year"] and k % 20 == p["rem"]]:
                c, _, cents, y = rows[k]
                rows[k] = (c, "U", cents + 100, y)
                changed += 1
        elif op.kind == "optimize":
            self._before()
            secs, _ = self.timed(op.kind, lambda: DeltaTable.forPath(spark, self.table).optimize())
        else:
            self._before()
            secs, _ = self.timed(
                op.kind, lambda: DeltaTable.forPath(spark, self.table).vacuum(retention_hours=0)
            )
        self._after(changed)
        return self._check(op.kind, secs)

    # rewrite accounting for the traced run: removed files and their rows
    def _before(self) -> None:
        if self.tracer is not None:
            from delta_lake_spark import DeltaLog

            self._snap_before = DeltaLog(self.table).snapshot()

    def _after(self, changed: int) -> None:
        from delta_lake_spark import DeltaLog

        snap = DeltaLog(self.table).snapshot()
        self.space_amp.append(_dir_bytes(self.table) / max(1, snap.size_bytes))
        tr = self.tracer
        if tr is None:
            return
        removed = [a for path, a in self._snap_before.files.items() if path not in snap.files]
        tr.count("table", "files_rewritten", len(removed))
        if changed:
            tr.count("table", "rows_rewritten", sum(a.numRecords or 0 for a in removed))
            tr.count("table", "rows_changed", changed)

    def _check(self, kind: str, secs: float) -> Result:
        """Compare the committed table with the model. DuckDB reads the
        live files the log lists, so the check shares no code with the
        engine's reader and costs milliseconds, not a Spark job."""
        import duckdb

        from delta_lake_spark import DeltaLog

        snap = DeltaLog(self.table).snapshot()
        files = [os.path.join(self.table, a.path) for a in snap.files.values()]
        got = duckdb.sql(
            f"SELECT {', '.join(_CHECKSUM_SQL)} FROM read_parquet({files!r})"
        ).fetchone()
        got = tuple(int(v or 0) for v in got)
        want = self.model.checksum()
        return Result(kind, secs, got == want, "" if got == want else f"got {got} want {want}")

    def summary(self, results):
        by = lambda *kinds: [r.seconds for r in results if r.kind in kinds]
        return {
            "append_p50_s": (_p50(by("append")), "s"),
            "merge_p50_s": (_p50(by("merge")), "s"),
            "rewrite_p50_s": (_p50(by("delete", "update")), "s"),
            "space_amp": (_p50(self.space_amp), "ratio"),
        }


# --------------------------------------------------------------------------
# versioned_reads: latest/as-of/CDF reads over a long, many-file history
# --------------------------------------------------------------------------


class VersionedReads(Workload):
    name = "versioned_reads"
    # assumed, not measured: latest reads most, then history and
    # change-feed reads (see README.md, "Operation mixes")
    block = ["latest", "asof_version", "cdf", "latest", "asof_timestamp"] * 3 + [
        "latest", "asof_version", "cdf", "latest", "asof_version",
    ]
    min_blocks = 2
    # the generated data files' directory inside the table
    DATA = "data"
    # cold and warm reads differ by more than the kinds do, so a cold
    # first block split the median between them
    warm_up_first = True

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.table = os.path.join(self.root, "history_delta")
        self.first = os.path.join(self.root, "v0.parquet")

    def generate(self) -> None:
        """Write the history's data files and decide what each version
        adds and removes: ``vr_commits`` versions of ``vr_files`` small
        files each, except that every seventh version removes four live
        files. Files hold consecutive ``id`` ranges, so range predicates
        skip most of them."""
        import pyarrow.parquet as pq

        shutil.rmtree(self.root, ignore_errors=True)
        s, r = self.sizes, datagen.rng(self.seed, 4)
        rows = s["vr_rows"]
        self.file_ids: list[np.ndarray] = []  # file index -> ids
        self.file_x: list[np.ndarray] = []
        self.n_ids = 0

        def new_file() -> pa.Table:
            ids = np.arange(self.n_ids, self.n_ids + rows, dtype=np.int64)
            self.n_ids += rows
            x = r.integers(0, 1_000_000, rows, dtype=np.int64)
            self.file_ids.append(ids)
            self.file_x.append(x)
            return pa.table({"id": ids, "k": ids % 97, "x": x})

        datagen.write(pa.concat_tables([new_file() for _ in range(s["vr_files"])]), self.first)
        # version 0 holds its rows in one Spark-written file: model it as
        # one file index covering all of them
        self.file_ids = [np.concatenate(self.file_ids)]
        self.file_x = [np.concatenate(self.file_x)]
        self.file_paths = [""]  # version 0's file is named when it is written
        live = [0]
        self.live_at = [np.array(live)]
        self.added_at: list[list[int]] = [[0]]
        self.removed_at: list[list[int]] = [[]]
        for v in range(1, s["vr_commits"]):
            added, removed = [], []
            if v % 7 == 0 and len(live) > 4:
                for idx in sorted(r.choice(len(live), 4, replace=False), reverse=True):
                    removed.append(live.pop(int(idx)))
            else:
                for _ in range(s["vr_files"]):
                    fi = len(self.file_ids)
                    rel = f"{self.DATA}/c{v:05d}/part-{fi:06d}.parquet"
                    path = os.path.join(self.table, rel)
                    os.makedirs(os.path.dirname(path), exist_ok=True)
                    pq.write_table(new_file(), path)
                    self.file_paths.append(rel)
                    live.append(fi)
                    added.append(fi)
            self.live_at.append(np.array(live))
            self.added_at.append(added)
            self.removed_at.append(removed)

    def setup(self) -> None:
        """Commit the generated history through the engine: version 0
        with ``write_delta``, every later version through the log, with
        ``file_stats`` computing each added file's statistics."""
        from delta_lake_spark import DeltaLog, write_delta
        from delta_lake_spark.log import AddFile, CommitInfo, RemoveFile
        from delta_lake_spark.stats import file_stats

        # keep the generated data files; drop the log and version 0's file
        for name in os.listdir(self.table):
            if name != self.DATA:
                path = os.path.join(self.table, name)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
        write_delta(self.spark.read.parquet(self.first).coalesce(1), self.table)
        log = DeltaLog(self.table)
        self.file_paths[0] = next(iter(log.snapshot(0).files))
        self.ts0 = log.commit_timestamp(0)
        self.commit_ts = [self.ts0]
        for v in range(1, len(self.live_at)):
            ts = self.ts0 + 1000 * v
            actions = [CommitInfo(operation="WRITE", timestamp=ts).to_action()]
            for fi in self.removed_at[v]:
                actions.append(RemoveFile(self.file_paths[fi], ts).to_action())
            for fi in self.added_at[v]:
                rel = self.file_paths[fi]
                path = os.path.join(self.table, rel)
                n, stats = file_stats(path)
                actions.append(AddFile(rel, {}, os.path.getsize(path), n, stats, ts).to_action())
            log.commit(v, actions)
            self.commit_ts.append(ts)

    # every range read covers 1% of the ids and every CDF read three
    # versions, so a read's cost depends on where it lands, not on a
    # drawn size
    WIDTH = 0.01
    CDF_VERSIONS = 3

    def plan(self, kind: str) -> Op:
        r = self.rng
        last = self.sizes["vr_commits"] - 1
        lo = int(r.integers(0, 1 << 62))  # resolved against the id space in run()
        if kind == "latest":
            return Op(kind, {"lo": lo})
        if kind in ("asof_version", "asof_timestamp"):
            return Op(kind, {"lo": lo, "version": int(r.integers(0, last + 1))})
        start = int(r.integers(0, last + 2 - self.CDF_VERSIONS))
        return Op(kind, {"from": start, "to": start + self.CDF_VERSIONS - 1})

    def _expected(self, version: int, a: int, b: int) -> tuple[int, int, int]:
        n = keys = xs = 0
        for fi in self.live_at[version]:
            ids = self.file_ids[fi]
            if ids[-1] < a or ids[0] >= b:
                continue
            m = (ids >= a) & (ids < b)
            n += int(m.sum())
            keys += int(ids[m].sum())
            xs += int(self.file_x[fi][m].sum())
        return n, keys, xs

    def run(self, op: Op) -> Result:
        from pyspark.sql import functions as F

        from delta_lake_spark import read_delta, table_changes

        spark, p = self.spark, op.params
        if op.kind == "cdf":
            def read():
                df = (
                    table_changes(spark, self.table, p["from"], p["to"])
                    .groupBy("_change_type")
                    .agg(F.count("*").alias("n"), F.sum("id").alias("keys"))
                )
                return df.collect()

            secs, rows = self.timed(op.kind, read)
            got = {r["_change_type"]: (r["n"], r["keys"]) for r in rows}
            want: dict[str, tuple[int, int]] = {}
            for v in range(p["from"], p["to"] + 1):
                for kind, files in (("insert", self.added_at[v]), ("delete", self.removed_at[v])):
                    for fi in files:
                        n, k = want.get(kind, (0, 0))
                        want[kind] = (n + len(self.file_ids[fi]), k + int(self.file_ids[fi].sum()))
            return Result(op.kind, secs, got == want, "" if got == want else f"got {got} want {want}")

        width = max(1, int(self.WIDTH * self.n_ids))
        a = p["lo"] % max(1, self.n_ids - width)
        b = a + width
        pred = f"id >= {a} AND id < {b}"
        version = p.get("version")
        kw: dict[str, Any] = {"predicate": pred}
        if op.kind == "asof_version":
            kw["version"] = version
        elif op.kind == "asof_timestamp":
            kw["timestamp"] = self.commit_ts[version] + 500
        else:
            version = len(self.live_at) - 1

        def read():
            df = (
                read_delta(spark, self.table, **kw)
                .filter(pred)
                .selectExpr("count(*) AS n", "sum(id) AS keys", "sum(x) AS xs")
            )
            return df.collect()[0]

        secs, row = self.timed(op.kind, read)
        got = (row["n"], row["keys"] or 0, row["xs"] or 0)
        want = self._expected(version, a, b)
        return Result(op.kind, secs, got == want, "" if got == want else f"got {got} want {want}")

    def summary(self, results):
        by = lambda *kinds: [r.seconds for r in results if r.kind in kinds]
        return {
            "latest_read_p50_s": (_p50(by("latest")), "s"),
            "asof_read_p50_s": (_p50(by("asof_version", "asof_timestamp")), "s"),
            "cdf_read_p50_s": (_p50(by("cdf")), "s"),
        }


# --------------------------------------------------------------------------
# curation_funnel: the LLM-curation registry queries, end to end
# --------------------------------------------------------------------------

CURATION_QUERIES = [
    "q137_pretrain_funnel",
    "q170_pretrain_funnel_minhash",
    "q147_pretrain_funnel_full",
    "q32_dedup_minhash_lsh",
    "q266_semdedup_arrow",
]


class CurationFunnel(Workload):
    name = "curation_funnel"
    block = CURATION_QUERIES
    # a query's first run in a session pays JIT compilation, code
    # generation and class loading, about half its time. A run measures
    # the cold block a scheduled job pays and a second, warm one: with the
    # cold block alone the median was one cold query's time, which moved
    # by a third between runs; over both, the middle ranks fall among
    # queries whose times lie close together
    min_blocks = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.landing = os.path.join(self.root, "landing")
        self.sf = os.path.join(self.root, "sf")
        self.oracle_checked: dict[str, bool] = {}

    def generate(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        datagen.write(datagen.documents(self.seed, self.sizes["docs"]), os.path.join(self.landing, "documents.parquet"))
        datagen.write(datagen.embeddings(self.seed, self.sizes["vecs"]), os.path.join(self.landing, "embeddings.parquet"))

    def setup(self) -> None:
        """Land the corpus in the engine's table format (one ``write_delta``
        per table) and publish its latest snapshot (``read_delta``) as the
        parquet directory the registry queries read."""
        from delta_lake_spark import read_delta, write_delta

        shutil.rmtree(self.sf, ignore_errors=True)
        for t in ("documents", "embeddings"):
            table = os.path.join(self.sf, f"{t}_delta")
            write_delta(self.spark.read.parquet(os.path.join(self.landing, f"{t}.parquet")), table)
            read_delta(self.spark, table).coalesce(1).write.parquet(os.path.join(self.sf, f"{t}.parquet"))

    def _oracle(self):
        import duckdb

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet/*.parquet')")
        return con

    def _execute(self, name: str, parts: dict):
        """Run query ``name`` from cleared memos, timing its build and its
        execution into ``parts``."""
        from delta_lake_spark.operators._cache import clear_session_caches
        from delta_lake_spark.queries import QUERIES
        from delta_lake_spark.queries._fixtures import clear_fixture_memo
        from delta_lake_spark.queries.llm import clear_funnel_memo

        clear_funnel_memo(self.spark)
        clear_session_caches(self.spark)
        clear_fixture_memo()
        t0 = time.perf_counter()
        df = QUERIES[name](self.spark, self.sf)
        t1 = time.perf_counter()
        # noop-format write materializes every column of every row
        df.write.format("noop").mode("overwrite").save()
        parts.update(build_s=t1 - t0, exec_s=time.perf_counter() - t1)
        return df

    def run(self, op: Op) -> Result:
        from delta_lake_spark.queries import ORACLE_SQL

        name = op.kind
        tr = self.tracer
        parts: dict[str, float] = {}
        secs, df = self.timed(name, lambda: self._execute(name, parts))
        if tr:
            # plain timers, not spans: they cover the whole operation, so
            # as spans they would hide the time no engine function covers
            for key, value in parts.items():
                tr.count(f"queries.{name}", key, value)
            tr.count(f"queries.{name}", "runs")
            tr.peak_persisted = max(tr.peak_persisted, tr.persisted_bytes())
        if name in self.oracle_checked:
            return Result(name, secs, self.oracle_checked[name])
        from tests.oracle_harness import compare

        ok, msg = compare(name, df, self._oracle(), ORACLE_SQL[name])
        self.oracle_checked[name] = ok
        return Result(name, secs, ok, "" if ok else msg)


WORKLOADS = {w.name: w for w in (EtlCommits, VersionedReads, CurationFunnel)}
