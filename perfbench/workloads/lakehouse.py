"""``lakehouse``: one writer on a fresh ``sources.txlog`` table built
from the run's ``orders`` table, with snapshot reads and change-feed
polls between the writes.

Each round runs every kind below once (see ``BLOCKS``); every second
round starts with an ``optimize``. The seed also draws every predicate,
set-expression and key range up front, so the schedule never depends
on timing. All DML is integer-modulo predicates, string literals and
``+ 1.5`` on doubles, which both Spark and DuckDB evaluate exactly.

Checks, all outside the timed ops:

- every snapshot read's (priority, rows, cents) must equal a DuckDB
  replay of the same DML on the same ``orders`` at that point;
- the final snapshot must equal the replay's final state;
- every change-feed poll's net row change (inserts minus deletes) must
  equal the replay's row-count change over the polled versions, and the
  consumer's total must equal the final row count.

The table and the feed cursor live in the run's own directory. The
warm-up runs one unchecked round on a throwaway table there, so the measured
table starts at version 0 in every run.
"""

from __future__ import annotations

import os
import random
import shutil

import numpy as np

from .. import datagen, harness, probes, stats

# Each round: five pairs of writes, each pair in a seeded order, with a
# snapshot read or a change-feed poll after each of the first four
# pairs; every second round starts with an optimize. Which writes come
# before each reader is fixed, so a reader sees the same kinds of
# commits in every run, and the table ends each run past its first
# checkpoint with the files of a round's writes live.
BLOCKS = (
    (("append_a", "delete_cow"), "read_a"),
    (("update_dv", "append_b"), "cdf_a"),
    (("append_c", "delete_dv"), "read_b"),
    (("update_cow", "merge"), "cdf_b"),
    (("append_d", "append_e"), None),
)
WRITE_KINDS = [k for writes, _ in BLOCKS for k in writes]
KINDS = WRITE_KINDS + [reader for _, reader in BLOCKS if reader]
VERB = {
    **{k: "append" for k in WRITE_KINDS if k.startswith("append")},
    "delete_cow": "delete_where",
    "delete_dv": "delete_where",
    "update_cow": "update_where",
    "update_dv": "update_where",
    "merge": "merge",
    "optimize": "optimize",
    "read_a": "read_table",
    "read_b": "read_table",
}
WRITES = {"append", "delete_where", "update_where", "merge", "optimize"}
APPEND_ROWS = 400
MERGE_NEW_ROWS = 100
FRESH_KEY0 = 1_000_000_000
WARM_ROWS = 3000  # the warm-up table: the first orders only
# one op per verb, mode and reader; repeats add nothing to the warm-up
WARM_KINDS = {"optimize", "append_a", "delete_cow", "delete_dv", "update_cow", "update_dv", "merge", "read_a", "cdf_a"}

# Row images for appended and merged rows, as one SQL select list over
# a bigint ``id`` that both engines accept; only the date literal's
# type name differs.
_ROW = (
    "id AS o_orderkey",
    "id % {n_cust} AS o_custkey",
    "CASE id % 3 WHEN 0 THEN 'F' WHEN 1 THEN 'O' ELSE 'P' END AS o_orderstatus",
    "CAST(id % {price_mod} AS DOUBLE) + {price_frac} AS o_totalprice",
    "CAST('{date}' AS {ts}) AS o_orderdate",
    "CASE (id + {shift}) % 5 WHEN 0 THEN '1-URGENT' WHEN 1 THEN '2-HIGH' "
    "WHEN 2 THEN '3-MEDIUM' WHEN 3 THEN '4-NOT SPECIFIED' ELSE '5-LOW' END AS o_orderpriority",
)
_APPEND_IMAGE = {"price_mod": 100_000, "price_frac": 0.25, "date": "2001-09-01", "shift": 0}
_MERGE_IMAGE = {"price_mod": 50_000, "price_frac": 0.75, "date": "2001-10-01", "shift": 2}
_SETS = (
    {"o_orderpriority": "'1-URGENT'"},
    {"o_orderpriority": "'5-LOW'"},
    {"o_totalprice": "o_totalprice + 1.5"},
)
AGG_SQL = (
    "SELECT o_orderpriority AS p, COUNT(*) AS n, "
    "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents "
    "FROM {t} GROUP BY o_orderpriority ORDER BY o_orderpriority"
)


def snapshot_agg(spark, df) -> list[tuple]:
    """(priority, rows, cents) of a snapshot, sorted by priority."""
    df.createOrReplaceTempView("perfbench_snapshot")
    return [
        (r["p"], int(r["n"]), int(r["cents"]))
        for r in spark.sql(AGG_SQL.format(t="perfbench_snapshot")).collect()
    ]


def row_select(engine: str, image: dict, n_cust: int) -> list[str]:
    ts = "TIMESTAMP_NTZ" if engine == "spark" else "TIMESTAMP"
    return [e.format(n_cust=n_cust, ts=ts, **image) for e in _ROW]


def schedule(seed: int, rounds: int, n_orders: int, tag: str) -> list[list[tuple[str, dict]]]:
    """Every round's ops with their arguments: the seed orders the
    writes in each pair and draws their predicates and key ranges;
    merges run cow in even rounds and dv in odd ones."""
    rng = random.Random(f"{tag}-{seed}")
    fresh = FRESH_KEY0

    def write(kind: str, r: int) -> tuple[str, dict]:
        nonlocal fresh
        m = rng.randrange(500, 1000)
        args: dict = {"pred": f"o_orderkey % {m} = {rng.randrange(m)}"}
        if kind.startswith("append"):
            args = {"lo": fresh, "hi": fresh + APPEND_ROWS}
            fresh += APPEND_ROWS
        elif kind.startswith("update"):
            args["set"] = _SETS[rng.randrange(len(_SETS))]
        elif kind == "merge":
            args = {
                "old": (rng.randrange(m), n_orders, m),
                "new": (fresh, fresh + MERGE_NEW_ROWS),
                "mode": ("cow", "dv")[r % 2],
            }
            fresh += MERGE_NEW_ROWS
        return kind, args

    out = []
    for r in range(rounds):
        ops = [("optimize", {})] if r % 2 == 1 else []
        for writes, reader in BLOCKS:
            ops += [write(k, r) for k in rng.sample(writes, len(writes))]
            if reader:
                ops.append((reader, {}))
        out.append(ops)
    return out


class Lakehouse:
    name = "lakehouse"
    tables = ("orders",)
    sf = 0.02
    nominal_round_s = 14.0
    min_rounds = 2

    def __init__(self) -> None:
        self.sizes: dict[str, int] = {}
        self.args = iter(())
        self.log: list[tuple[str, dict, object]] = []
        self.root = self.ck = self.where = ""
        self.commit_stats: list[tuple[int, int, int]] = []
        self._pre: tuple[set, int] | None = None
        self.end: dict = {}

    # -- inputs -------------------------------------------------------
    def stage(self, data_dir: str) -> dict[str, int]:
        rng = np.random.default_rng(datagen.DATA_SEED)
        orders = datagen.star_schema(rng, self.sf)["orders"]
        self.sizes = datagen.write_tables(data_dir, {"orders": orders})
        return self.sizes

    def kinds(self) -> list[str]:
        # optimize runs in odd rounds only; at index 0 it is traced there
        return ["optimize"] + KINDS

    def round_size(self) -> int:
        """Ops in a round without an optimize."""
        return len(KINDS)

    def orders(self, seed: int, rounds: int) -> list[list[str]]:
        return self._set_plan(schedule(seed, rounds, self.sizes["orders"], "measure"))

    # -- ops ----------------------------------------------------------
    def _frame(self, ctx, lo: int, hi: int, step: int, image: dict):
        n_cust = int(150_000 * self.sf)
        return ctx.spark.range(lo, hi, step).selectExpr(*row_select("spark", image, n_cust))

    def _set_plan(self, plan: list[list[tuple[str, dict]]]) -> list[list[str]]:
        self.args = iter([a for ops in plan for _k, a in ops])
        return [[k for k, _a in ops] for ops in plan]

    def op(self, ctx, kind: str) -> None:
        from map_reduce_rpc_spark.sources import txlog
        from map_reduce_rpc_spark.streaming import cdf

        args = next(self.args)
        spark, root = ctx.spark, self.root
        verb = VERB.get(kind)
        if kind.startswith("cdf"):
            with ctx.tracer.span("streaming.cdf.process_available"):
                got: list = []

                def consume(changes, batch_id):
                    with ctx.tracer.span("bench.cdf_consumer"):
                        row = changes.selectExpr(
                            "COUNT(*) AS n",
                            "COALESCE(SUM(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END), 0) AS net",
                        ).collect()[0]
                        got.append((int(row["n"]), int(row["net"]), int(batch_id)))

                frm = cdf.ChangeFeedReader(root, self.ck).cursor()
                cdf.process_available(spark, root, self.ck, consume)
            self.log.append((kind, {"from": frm}, got))
            return
        with ctx.tracer.span(f"sources.txlog.{verb}"):
            if verb == "append":
                res = txlog.append(spark, root, self._frame(ctx, args["lo"], args["hi"], 1, _APPEND_IMAGE))
            elif verb == "delete_where":
                res = txlog.delete_where(spark, root, args["pred"], mode=kind.split("_")[1])
            elif verb == "update_where":
                res = txlog.update_where(spark, root, args["set"], args["pred"], mode=kind.split("_")[1])
            elif verb == "merge":
                old = self._frame(ctx, *args["old"], _MERGE_IMAGE)
                new = self._frame(ctx, *args["new"], 1, _MERGE_IMAGE)
                res = txlog.merge(spark, root, old.unionByName(new), ("o_orderkey",), mode=args["mode"])
            elif verb == "optimize":
                res = txlog.optimize(spark, root)
            else:
                res = snapshot_agg(spark, txlog.read_table(spark, root))
        self.log.append((kind, args, res))

    def before(self, ctx, kind: str) -> None:
        from map_reduce_rpc_spark.sources import txlog

        if VERB.get(kind) in WRITES:
            v = txlog.current_version(self.root)
            self._pre = (set(txlog.snapshot_info(self.root, v)["files"]), probes.dir_bytes(self.root))

    def after(self, ctx, kind: str, ok: bool) -> None:
        from map_reduce_rpc_spark.sources import txlog

        if self._pre is not None and ok:
            files, size = self._pre
            now = set(txlog.snapshot_info(self.root, txlog.current_version(self.root))["files"])
            self.commit_stats.append(
                (len(now - files), len(files - now), probes.dir_bytes(self.root) - size)
            )
        self._pre = None

    def _create(self, ctx, root: str, ck: str, where: str) -> None:
        from map_reduce_rpc_spark.sources import txlog
        from map_reduce_rpc_spark.tables import load_table

        for d in (root, ck):
            shutil.rmtree(d, ignore_errors=True)
        self.root, self.ck, self.where = root, ck, where
        self.log = []
        txlog.create_table(ctx.spark, root, load_table(ctx.spark, ctx.data_dir, "orders").where(where))

    def warm(self, ctx) -> None:
        """One op of each verb, mode and reader (dv merge) on a small
        throwaway table, then the measured table at version 0."""
        warm_root = os.path.join(ctx.run_dir, "warm_table")
        warm_ck = os.path.join(ctx.run_dir, "warm_cdf")
        self._create(ctx, warm_root, warm_ck, f"o_orderkey < {WARM_ROWS}")
        ops = [(k, a) for k, a in schedule(ctx.seed, 2, self.sizes["orders"], "warm")[1] if k in WARM_KINDS]
        for kind in self._set_plan([ops])[0]:
            harness.run_op(ctx, self, kind, False, None)
        shutil.rmtree(warm_root, ignore_errors=True)
        shutil.rmtree(warm_ck, ignore_errors=True)
        self._create(ctx, os.path.join(ctx.run_dir, "table"), os.path.join(ctx.run_dir, "cdf"), "true")

    # -- checks -------------------------------------------------------
    def verify(self, ctx) -> None:
        """Replay the op log in DuckDB and check every read, every poll
        and the final snapshot against it."""
        import duckdb

        from map_reduce_rpc_spark.streaming import cdf

        # drain the feed so the consumer has seen every commit
        tail: list = []
        cdf.process_available(
            ctx.spark, self.root, self.ck,
            lambda ch, bid: tail.append(ch.selectExpr(
                "COALESCE(SUM(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END), 0)"
            ).collect()[0][0]),
        )
        with duckdb.connect() as con:
            self._replay(ctx, con, tail)

    def _replay(self, ctx, con, tail: list) -> None:
        from map_reduce_rpc_spark.sources import txlog

        path = os.path.join(ctx.data_dir, "orders.parquet")
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}') WHERE {self.where}")
        n_cust = int(150_000 * self.sf)

        def rows() -> int:
            return con.execute("SELECT COUNT(*) FROM t").fetchone()[0]

        def agg() -> list[tuple]:
            return [tuple(r) for r in con.execute(AGG_SQL.format(t="t")).fetchall()]

        def image(lo, hi, step, img) -> str:
            cols = ", ".join(row_select("duckdb", img, n_cust))
            return f"SELECT {cols} FROM (SELECT range AS id FROM range({lo}, {hi}, {step}))"

        count_at = {0: rows()}
        net_total = 0
        for kind, args, res in self.log:
            verb = VERB.get(kind)
            if kind.startswith("cdf"):
                ctx.attempted += 1
                frm = args["from"]
                for n, net, to in res:
                    net_total += net
                    want = count_at.get(to, -1) - count_at.get(frm, 0)
                    if net != want:
                        ctx.fail(kind, f"feed ({frm}, {to}] net {net} != replay {want}")
                        break
                    frm = to
                continue
            if verb == "append":
                con.execute(f"INSERT INTO t {image(args['lo'], args['hi'], 1, _APPEND_IMAGE)}")
            elif verb == "delete_where":
                con.execute(f"DELETE FROM t WHERE {args['pred']}")
            elif verb == "update_where":
                sets = ", ".join(f"{c} = {e}" for c, e in args["set"].items())
                con.execute(f"UPDATE t SET {sets} WHERE {args['pred']}")
            elif verb == "merge":
                lo, hi, m = args["old"]
                upd = f"{image(lo, hi, m, _MERGE_IMAGE)} UNION ALL {image(*args['new'], 1, _MERGE_IMAGE)}"
                con.execute(f"CREATE OR REPLACE TEMP TABLE u AS {upd}")
                con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM u)")
                con.execute("INSERT INTO t SELECT * FROM u")
            elif verb == "read_table":
                ctx.attempted += 1
                if res != agg():
                    ctx.fail(kind, f"snapshot read {res} != replay {agg()}")
            if verb in WRITES:
                count_at[int(res)] = rows()
        ctx.attempted += 1
        got = snapshot_agg(ctx.spark, txlog.read_table(ctx.spark, self.root))
        if got != agg():
            ctx.fail("final_snapshot", f"{got} != replay {agg()}")
        ctx.attempted += 1
        net_total += sum(tail)
        if net_total != rows():
            ctx.fail("cdf_net", f"consumer net rows {net_total} != final rows {rows()}")

    def finish(self, ctx) -> dict:
        """Checks plus the end-of-run table shape."""
        from map_reduce_rpc_spark.sources import txlog

        v = txlog.current_version(self.root)
        snap = txlog.snapshot_info(self.root, v)
        live = sum(os.path.getsize(os.path.join(self.root, f)) for f in snap["files"])
        self.end = {
            "version": v,
            "snapshot_files": len(snap["files"]),
            "stored_bytes": probes.dir_bytes(self.root),
            "live_bytes": live,
        }
        self.verify(ctx)
        return self.end

    # -- per-layer ----------------------------------------------------
    def layer_metrics(self, ctx, m) -> dict:
        out = {}
        for verb in ("append", "delete_where", "update_where", "merge", "optimize", "read_table"):
            out[f"sources.txlog.{verb}_s"] = stats.metric(
                harness.mean_s(ctx.tracer, f"sources.txlog.{verb}"), "s"
            )
        n = max(1, len(self.commit_stats))
        for i, name in enumerate(("files_added", "files_removed")):
            out[f"sources.txlog.{name}_per_commit"] = stats.metric(
                sum(c[i] for c in self.commit_stats) / n, "count"
            )
        out["sources.txlog.bytes_written_per_commit"] = stats.metric(
            sum(c[2] for c in self.commit_stats) / n, "bytes"
        )
        out["sources.txlog.snapshot_files"] = stats.metric(self.end["snapshot_files"], "count")
        out["sources.txlog.stored_bytes_per_live_byte"] = stats.metric(
            self.end["stored_bytes"] / self.end["live_bytes"], "ratio"
        )
        polls = [res for kind, _a, res in self.log if kind.startswith("cdf")]
        rows = [sum(n for n, _net, _to in p) for p in polls]
        out["streaming.cdf.poll_s"] = stats.metric(
            harness.mean_s(ctx.tracer, "streaming.cdf.process_available"), "s"
        )
        out["streaming.cdf.rows_per_poll"] = stats.metric(sum(rows) / max(1, len(rows)), "count")
        return out
