"""The workloads. Each one is a set-up step plus a repeatable pass.

Every pass does the same work: an image pass starts from fresh tables,
a medallion pass is the next window of the same series. Every call into
the engine runs inside a span of the recorder; correctness checks run
between spans, so they are never part of a measured time.
"""

from __future__ import annotations

import os
import shutil
import sys

from perfbench import inputs

# input sizes; "tiny" is the smoke-test size
SIZES = {
    "image_table": {
        "full": {"appends": 5, "rows_per_append": 200, "full_scans": 1},
        "tiny": {"appends": 2, "rows_per_append": 30, "full_scans": 1},
    },
    "medallion_incremental": {
        "full": {"initial": 3000, "windows": 10, "per_window": 1500,
                 "upserts": 150, "deletes": 60},
        "tiny": {"initial": 200, "windows": 4, "per_window": 100,
                 "upserts": 10, "deletes": 5},
    },
}


class Pass:
    """Ops and check results of one pass. With ``checking`` off, the
    workload skips the queries that only serve its checks."""

    def __init__(self, rec, checking: bool = True):
        self.rec = rec
        self.checking = checking
        self.ops = []           # top-level spans of this pass
        self.failed: set[int] = set()
        self.stats: dict = {}   # workload-specific numbers for the metrics

    def op(self, name: str, fn):
        with self.rec.span(name) as sp:
            self.ops.append(sp)
            try:
                return fn(sp)
            except Exception:
                self.failed.add(sp.id)
                raise

    def check(self, ok: bool, what: str, spans) -> None:
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)
            self.failed.update(s.id for s in spans)

    def add(self, key: str, value) -> None:
        self.stats.setdefault(key, []).append(value)


def _files_bytes(table) -> int:
    return sum(e.bytes for e in table.files())


def _fingerprint(df, cols=None) -> tuple:
    """(rows, order-independent hash of the rows)."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*(cols or sorted(df.columns))) % 1_000_003)
               .alias("h")).collect()[0]
    return (r["n"], r["h"])


def _where(flt):
    """The filters of a scan as one Spark predicate, built apart from the
    engine, so the checks compare a pruned scan with a plain filter."""
    from pyspark.sql import functions as F

    pred = F.lit(True)
    for col, op, val in flt:
        c = F.col(col)
        pred = pred & {"=": lambda: c == val, "<": lambda: c < val,
                       ">=": lambda: c >= val, "<=": lambda: c <= val,
                       "between": lambda: c.between(*val)}[op]()
    return pred


def _scan(ctx, p: Pass, table, flt) -> int:
    """One pruned scan of ``table`` as a ``format.scan`` op: plan, execute
    and count. Returns the row count."""
    def scan(sp):
        m: dict = {}
        t0 = ctx.clock()
        df = table.scan(ctx.spark, filters=flt, metrics_out=m)
        sp.values["plan_ms"] = (ctx.clock() - t0) * 1000
        n = df.count()
        sp.values["files_kept_ratio"] = m["files_kept"] / max(1, m["files_total"])
        p.add("read_bytes", m["bytes_kept"])
        p.add("read_rows", n)
        return n
    return p.op("format.scan", scan)


# -- image_table ----------------------------------------------------------------

def _scan_filters(first: int, rows: int):
    """The scan mix: two phash slices (the clustering key), a slice that
    prunes every file (the generator's hashes are all negative), an image
    size, a point lookup by id (per-file bloom filters) and a two-column
    box."""
    step = 2 ** 61
    return [
        [("phash", "between", (-4 * step, -4 * step + step // 2))],
        [("phash", "between", (-2 * step, -2 * step + step // 2))],
        [("phash", "between", (step, 2 * step))],
        [("w", "=", 64)],
        [("image_id", "=", f"img_{first + rows // 3:012d}")],
        [("phash", "between", (-2 * step, 0)), ("h", "<=", 48)],
    ]


class Workload:
    """A workload runs passes in series. ``begin`` prepares a series,
    ``end`` runs the checks that need the whole series; both stay
    outside every measured time."""

    def windows_left(self) -> int:
        return 1 << 30

    def begin(self, ctx, sdir: str) -> None:
        pass

    def end(self, ctx, passes: list) -> None:
        pass


class ImageTable(Workload):
    """An image+caption table through its whole life in one pass."""

    name = "image_table"

    def setup(self, ctx) -> None:
        self.inp = inputs.images(os.path.join(ctx.inputs, "images"), ctx.seed,
                                 ctx.size["appends"], ctx.size["rows_per_append"])
        self.scans = _scan_filters(self.inp["first_id"], self.inp["rows"])

    def run(self, ctx, pdir: str, p: Pass) -> None:
        from medalforge_lakehouse_data_spark.format.table import Table
        from medalforge_lakehouse_data_spark.maintenance import (
            clustering, compaction, expire, manifests)
        from medalforge_lakehouse_data_spark.operators.merge import merge_into
        from medalforge_lakehouse_data_spark.testing.datagen import IMAGES_SCHEMA

        spark, inp = ctx.spark, self.inp
        t = Table.create(os.path.join(pdir, "imgs"), IMAGES_SCHEMA,
                         partition_spec=["fmt"],
                         properties={"bloom.columns": "image_id"})

        def fingerprint():
            if p.checking:
                return _fingerprint(t.scan(spark), ["image_id", "bytes", "caption"])

        def scan_mix(counts: list):
            for flt in self.scans:
                counts.append(_scan(ctx, p, t, flt))

        def layout_ops(*steps, before=None):
            """Layout-only operations: the content fingerprint must not
            change across them. Returns the fingerprint after them."""
            before = before or fingerprint()
            for name, fn in steps:
                p.op(name, fn)
            after = fingerprint()
            p.check(after == before, "layout-only operations changed table "
                    "content", p.ops[-len(steps):])
            return after

        for i, path in enumerate(inp["paths"]["appends"]):
            p.op("format.append", lambda sp, i=i, path=path: t.append(
                spark, spark.read.parquet(path), commit_key=f"append-{i}"))
        first: list = []
        scan_mix(first)

        live_in = _files_bytes(t)
        target = max(1 << 20, live_in // 2)

        def compact(sp):
            m = compaction.compact(t, spark, target_file_bytes=target)
            out = _files_bytes(t) - (live_in - m["bytes_in"])
            sp.values["bytes_out_per_in"] = out / max(1, m["bytes_in"])
            return m

        layout_ops(("maintenance.compact", compact),
                   ("maintenance.cluster", lambda sp: clustering.cluster_rewrite(
                       t, spark, columns=("phash", "w", "h"), curve="zorder",
                       target_file_bytes=max(1, live_in // 16))))
        # A copy-on-write MERGE re-keys its output to the recorded Z-order
        # layout once its result reaches merge.cluster-rekey-min-bytes
        # (default: 4 clustered files). The 12-key trickle merge touches
        # 8-12 of ~38 files, right at that default, so seeds split between
        # the two paths. At half the table the 5% merge (two thirds of the
        # files) always re-keys and the trickle merge never does.
        t.set_properties({"merge.cluster-rekey-min-bytes": str(_files_bytes(t) // 2)})
        second: list = []
        scan_mix(second)
        p.check(first == second, "scan results changed across compact+cluster",
                p.ops[-2 * len(self.scans):])

        expect = inp["rows"]
        for kind, strategy in (("cow", "copy-on-write"),
                               ("trickle", "copy-on-write"),
                               ("mor", "merge-on-read")):
            name = ("operators.merge.mor" if strategy == "merge-on-read"
                    else "operators.merge.cow")

            def merge(sp, kind=kind, strategy=strategy):
                m = merge_into(t, spark.read.parquet(inp["paths"][kind]),
                               ["image_id"], spark, commit_key=f"merge-{kind}",
                               strategy=strategy)
                if strategy == "copy-on-write":
                    sp.values["affected_files_ratio"] = (
                        m["affected_files"] / max(1, m["files_total"]))
                return m

            p.op(name, merge)
            expect += inp["inserts"][kind]
            if p.checking:
                n = t.scan(spark).count()
                p.check(n == expect, f"{kind} merge: {n} rows, expected "
                        f"{expect}", [p.ops[-1]])
        for _ in range(ctx.size["full_scans"]):
            n = p.op("format.scan", lambda sp: t.scan(spark).count())
            p.add("read_bytes", _files_bytes(t))
            p.add("read_rows", n)
            p.check(n == expect, f"full scan: {n} rows, expected {expect}",
                    [p.ops[-1]])

        fp = layout_ops(("maintenance.compact_deletes",
                         lambda sp: compaction.compact_deletes(
                             t, spark, target_file_bytes=target)),
                        ("maintenance.rewrite_manifests",
                         lambda sp: manifests.rewrite_manifests(t)))
        # every file this pass wrote is still on disk until expiry
        p.add("write_bytes", inputs.dir_bytes(os.path.join(t.root, "data")))
        layout_ops(("maintenance.expire", lambda sp: expire.expire_snapshots(
            t, keep_last=1, grace_s=0)), before=fp)
        # the readers of the finished table; their answers changed with the
        # merges, so each is checked against a plain filter instead
        for flt in self.scans:
            n = _scan(ctx, p, t, flt)
            if p.checking:
                want = t.scan(spark).filter(_where(flt)).count()
                p.check(n == want, f"final scan {flt}: {n} rows, a plain "
                        f"filter gives {want}", [p.ops[-1]])
        p.add("user_bytes", inp["user_bytes"])
        p.add("live_bytes", _files_bytes(t))
        p.add("live_rows", expect)


# -- medallion_incremental -----------------------------------------------------

SILVER_CONTRACT = {
    "version": "1.0",
    "source": {"bronze_table": "bronze.tpch.orders"},
    "target": {"catalog": "silver", "schema": "tpch", "table": "orders_clean",
               "write": {"mode": "merge", "merge_keys": ["o_orderkey"]}},
    "dqx": {"checks": [
        {"name": "amount_range",
         "check": {"function": "is_in_range",
                   "arguments": {"column": "o_totalprice", "min_limit": 1000.0,
                                 "max_limit": 400000.0}}},
        {"name": "key_ok",
         "check": {"function": "sql_expression",
                   "arguments": {"expression": "o_orderkey % 1000 <> 0"}}},
    ]},
    "etl": {"standard": [
        {"method": "trim_columns", "args": {"columns": ["o_orderpriority"]}},
        {"method": "deduplicate",
         "args": {"keys": ["o_orderkey"], "order_by": ["o_totalprice desc"]}},
    ]},
    "quarantine": {
        "remediate": [{"method": "clamp_range",
                       "args": {"column": "o_totalprice", "min": 1000.0,
                                "max": 400000.0}}],
        "sink": {"table": "monitoring.quarantine.orders_bronze"},
    },
}


def _silver_scans(window: int):
    """What the silver table's readers ask after each window: price
    bands, statuses, cheap urgent and dear low-priority orders, customer
    ranges, key ranges that move with the window, and the whole table."""
    lo = window * 1000
    return [
        [("o_totalprice", ">=", 350000.0)],
        [("o_totalprice", "<", 5000.0)],
        [("o_orderstatus", "=", "F")],
        [("o_orderstatus", "=", "O")],
        [("o_orderpriority", "=", "1-URGENT"), ("o_totalprice", "<", 50000.0)],
        [("o_orderpriority", "=", "5-LOW"), ("o_totalprice", ">=", 300000.0)],
        [("o_custkey", "between", (1000, 1999))],
        [("o_custkey", "between", (9000, 9499))],
        [("o_orderkey", "between", (lo, lo + 400))],
        [("o_orderkey", "between", (lo + 20000, lo + 20400))],
        [],
    ]


class MedallionIncremental(Workload):
    """Orders arrive in windows. A series starts from fresh tables with an
    initial load; each pass is then one window: bronze ingest, a
    merge-on-read upsert slice and delete slice in bronze, the
    incremental silver run, and the silver table's readers."""

    name = "medallion_incremental"

    def setup(self, ctx) -> None:
        from medalforge_lakehouse_data_spark.plans.bronze_contract import (
            load_bronze_contract)
        from medalforge_lakehouse_data_spark.plans.silver_contract import (
            load_silver_contract)

        s = ctx.size
        self.inp = inputs.orders(os.path.join(ctx.inputs, "orders"), ctx.seed,
                                 s["initial"], s["windows"], s["per_window"],
                                 s["upserts"], s["deletes"])
        self.bronze = load_bronze_contract({
            "version": "1.0", "catalog": "bronze", "schema": "tpch",
            "table": "orders", "partitions": [],
            "columns": [{"name": n, "dtype": d} for n, d in inputs.ORDERS_COLUMNS],
            "source": {"format": "csv", "options": {"header": "true"}},
        })
        self.silver = load_silver_contract(SILVER_CONTRACT)
        full = dict(SILVER_CONTRACT)
        full["target"] = {**full["target"], "table": "orders_rebuilt"}
        self.silver_rebuilt = load_silver_contract(full)

    def _ingest(self, ctx) -> None:
        from medalforge_lakehouse_data_spark.pipeline import bronze

        bronze.run(ctx.spark, self.bronze, self.raw_root, self.bronze_root)

    def begin(self, ctx, sdir: str) -> None:
        """Fresh tables and the initial load (window 0)."""
        from medalforge_lakehouse_data_spark.pipeline.silver import (
            run_pipeline_incremental)
        from medalforge_lakehouse_data_spark.plans.catalog import Catalog

        self.raw_root = os.path.join(sdir, "raw")
        self.bronze_root = os.path.join(sdir, "bronze")
        self.landing = os.path.join(self.raw_root, "bronze", "tpch", "orders")
        os.makedirs(self.landing)
        self.catalog = Catalog(os.path.join(self.bronze_root, "datasets"))
        self.window = 0
        shutil.copy(self.inp["raw"][0], self.landing)
        self._ingest(ctx)
        run_pipeline_incremental(ctx.spark, self.silver, self.catalog)

    def windows_left(self) -> int:
        return len(self.inp["raw"]) - 1 - self.window

    def run(self, ctx, pdir: str, p: Pass) -> None:
        from pyspark.sql import functions as F

        from medalforge_lakehouse_data_spark.operators.etl_core import (
            add_audit_columns)
        from medalforge_lakehouse_data_spark.operators.merge import merge_into
        from medalforge_lakehouse_data_spark.pipeline.silver import (
            run_pipeline_incremental)

        spark, inp, catalog = ctx.spark, self.inp, self.catalog
        self.window += 1
        w = self.window
        btable = catalog.load("bronze.tpch.orders")
        cols = btable.schema.fieldNames()

        def slice_df(path):
            return add_audit_columns(spark.read.parquet(path).withColumn(
                "o_orderdate", F.col("o_orderdate").cast("date"))).select(*cols)

        shutil.copy(inp["raw"][w], self.landing)
        p.op("pipeline.bronze", lambda sp: self._ingest(ctx))
        p.op("operators.merge.mor", lambda sp: merge_into(
            btable, slice_df(inp["upserts"][w - 1]), ["o_orderkey"],
            spark, commit_key=f"upsert-{w}", strategy="merge-on-read"))
        p.op("operators.merge.mor", lambda sp: merge_into(
            btable, slice_df(inp["deletes"][w - 1]), ["o_orderkey"], spark,
            when_matched="delete", when_not_matched=None,
            commit_key=f"delete-{w}", strategy="merge-on-read"))
        p.op("pipeline.silver", lambda sp: run_pipeline_incremental(
            spark, self.silver, catalog))
        silver = catalog.load("silver.tpch.orders_clean")
        for flt in _silver_scans(w):
            n = _scan(ctx, p, silver, flt)
            if p.checking:
                want = silver.scan(spark).filter(_where(flt)).count()
                p.check(n == want, f"silver scan {flt}: {n} rows, a plain "
                        f"filter gives {want}", [p.ops[-1]])

    def end(self, ctx, passes: list) -> None:
        """Series checks: bronze holds the expected live rows, and the
        incremental silver table equals a full rebuild of the same bronze."""
        from medalforge_lakehouse_data_spark.pipeline.silver import (
            run_pipeline_incremental)

        spark, inp, catalog, w = ctx.spark, self.inp, self.catalog, self.window
        last = passes[-1]
        ops = [s for p in passes for s in p.ops]
        warehouse = os.path.join(self.bronze_root, "datasets")
        last.add("write_bytes", sum(
            inputs.dir_bytes(os.path.join(root, "data"))
            for root, dirs, _ in os.walk(warehouse) if "data" in dirs))
        last.add("user_bytes", sum(
            os.path.getsize(f) for f in inp["raw"][:w + 1]
            + inp["upserts"][:w] + inp["deletes"][:w]))

        bt = catalog.load("bronze.tpch.orders")
        n_bronze = bt.scan(spark).count()
        want = inp["live_rows"][w]
        last.check(n_bronze == want,
                   f"bronze has {n_bronze} live rows, expected {want}", ops)
        run_pipeline_incremental(spark, self.silver_rebuilt, catalog,
                                 full_refresh=True)
        inc = _fingerprint(catalog.load("silver.tpch.orders_clean").scan(spark))
        full = _fingerprint(catalog.load("silver.tpch.orders_rebuilt").scan(spark))
        last.check(inc == full, f"incremental silver {inc} differs from its "
                   f"rebuild {full}",
                   [s for s in ops if s.name == "pipeline.silver"])
        tables = [bt, catalog.load("silver.tpch.orders_clean")]
        last.add("live_bytes", sum(_files_bytes(x) for x in tables))
        last.add("live_rows", n_bronze + inc[0])



WORKLOADS = {w.name: w for w in (ImageTable, MedallionIncremental)}
