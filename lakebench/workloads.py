"""The benchmark's workloads: the ops of one pass and their checks.

Each op returns its output; the output is compared after the measured
passes with a DuckDB reference over the same inputs, computed once and
cached, so no check runs inside the timed region.

- ``erd``: four ``generate_erd`` calls per pass, one per layout. drawio
  takes the CLI's default layout (auto); the seed deals the other three
  layouts to the three text variants and orders the calls.
- ``payload``: a data-driven relationship test, registry queries (the
  profile, llm and streaming layers) over the engine's sf0.01 test data,
  and the time-travel restore chain (snapshot writes, a v2 with a seeded
  key residue deleted, ``snapshot_diff`` and ``restore_dataset``). The
  seed orders the ops and picks the restored tables and the residue.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import sys
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

from gcp_datalake_utils_spark.sources.registry import DEFAULT_SF_DIR
from tools.check import run_duck, table_hash

# the engine's read-only test data at scale factor 0.01, beside the
# registry's default sf0.1 tables; the seed picks what runs over it. At
# sf0.1 a payload run took 66-80 s on a 4-core host, more than the
# run-time budget allows next to erd's 58-74 s runs
DATA_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")


def canon(rows: list[tuple], cols: list[str]) -> list:
    """What two results must share to match: row count, column names
    and the correctness gate's order-insensitive value hash."""
    return [len(rows), sorted(cols), table_hash(rows, cols)]


class Duck:
    """DuckDB references over the input tables (``tools/check.py``'s
    views). ``cached`` keeps a reference in ``cache_dir``, keyed by its
    SQL text, the DuckDB version and the size and mtime of every input
    file, so a reference is computed once per checkout, not per run."""

    def __init__(self, data_dir: str, cache_dir: str) -> None:
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        stats = sorted((f, os.stat(os.path.join(data_dir, f)))
                       for f in os.listdir(data_dir))
        self.inputs = "".join(f"{f}:{st.st_size}:{st.st_mtime_ns}\n"
                              for f, st in stats)

    def rows(self, sql: str) -> tuple[list[tuple], list[str]]:
        return run_duck(sql, self.data_dir)

    def cached(self, sql: str, reduce: Callable = lambda r, c: [r, c]):
        """``reduce(rows, cols)`` of ``sql``, from the cache if there.
        The value goes through JSON, so tuples come back as lists."""
        key = hashlib.sha256(f"{duckdb.__version__}\n{self.inputs}\n"
                             f"{reduce.__name__}\n{sql}".encode())
        path = os.path.join(self.cache_dir, key.hexdigest() + ".json")
        try:
            with open(path, encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        value = json.loads(json.dumps(reduce(*self.rows(sql))))
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value


@dataclass
class Op:
    """One call per pass. ``run`` returns the output; ``expect`` computes
    the reference once (cached); ``matches`` compares the two."""
    name: str
    run: Callable[[], Any]
    expect: Callable[[], Any]
    matches: Callable[[Any, Any], bool] = lambda got, want: got == want
    _want: list = field(default_factory=list)

    def check(self, got) -> bool:
        if not self._want:
            self._want.append(self.expect())
        return self.matches(got, self._want[0])


@dataclass
class Workload:
    ops: list[Op]
    # called with the pass number before each pass (per-pass dirs)
    before_pass: Callable[[int], None] = lambda p: None
    close: Callable[[], None] = lambda: None


def _collect(df) -> tuple[list[tuple], list[str]]:
    return [tuple(r) for r in df.collect()], df.columns


# --------------------------------------------------------------------- erd

# all four variants include views and external tables: drawio's oracle
# has no table-type toggle, and the CLI-default (filtered) path costs
# 23-34 s a call on a 4-core host, more than one run's share of the time
# budget. drawio keeps the CLI's default layout and the seed deals the
# other layouts to the text variants, whose cost per layout is the same,
# so every seed runs the same work per pass (drawio runs 2-5 fewer jobs
# than a text variant, how many depending on the layout)
ERD_LAYOUTS = ["grid", "hierarchical", "force"]
ERD_VARIANTS = [("mermaid", {}), ("plantuml", {}),
                ("mermaid", {"show_column_types": False})]


def _erd_oracle(fmt: str, kw: dict) -> str:
    from gcp_datalake_utils_spark.formatters import oracles
    if fmt == "drawio":
        return oracles.drawio_lines_oracle()
    fn = {"mermaid": oracles.mermaid_lines_oracle,
          "plantuml": oracles.plantuml_lines_oracle}[fmt]
    return fn(include_views=True, include_external=True, **kw)


def diagram_text(rows: list[tuple], cols: list[str]) -> str:
    """A formatter oracle's rows, ordered by ``line_no``, as one text."""
    ln, line = cols.index("line_no"), cols.index("line")
    return "\n".join(r[line] for r in sorted(rows, key=lambda r: r[ln]))


def erd(spark, tracer, seed: int, duck: Duck, work_dir: str) -> Workload:
    from gcp_datalake_utils_spark import erd as erd_mod

    rng = random.Random(seed)
    layouts = ERD_LAYOUTS[:]
    rng.shuffle(layouts)
    calls = [(fmt, kw, lay) for (fmt, kw), lay in zip(ERD_VARIANTS, layouts)]
    calls.append(("drawio", {}, "auto"))
    rng.shuffle(calls)

    def make(fmt: str, kw: dict, layout: str) -> Op:
        def run():
            with tracer.span("erd"):
                return erd_mod.generate_erd(
                    spark, fmt, layout, include_views=True,
                    include_external=True, **kw)

        def expect():
            return duck.cached(_erd_oracle(fmt, kw), diagram_text)

        tag = "untyped" if kw else ""
        return Op(f"erd:{fmt}{tag}/{layout}", run, expect)

    return Workload([make(*c) for c in calls])


def install_erd_spans(tracer) -> None:
    """Spans around the calls ``generate_erd`` makes into each layer,
    and around the graph calls the layout layer makes."""
    from gcp_datalake_utils_spark import erd as erd_mod
    from gcp_datalake_utils_spark.formatters import diagrams, layout
    from gcp_datalake_utils_spark.operators import detection

    for mod in (erd_mod, diagrams, detection):
        tracer.wrap(mod, "classified_columns", "operators.classify")
    for mod in (erd_mod, diagrams, layout):
        tracer.wrap(mod, "detect_all", "operators.detection",
                    keep_result=True)
    for fn in ("grid_positions", "hierarchical_positions",
               "force_positions"):
        tracer.wrap(erd_mod, fn, "formatters.layout")
    tracer.wrap(layout, "bfs_levels", "operators.graph")
    for fmt, (fn, ext) in list(erd_mod.FORMATS.items()):
        erd_mod.FORMATS[fmt] = (tracer.traced(fn, "formatters.diagrams"),
                                ext)


# ----------------------------------------------------------------- payload

# one relationship test, one registry query for each of the
# operators.profile, llm and streaming layers, and the restore chain;
# the other payload ops were cut to fit the run-time budget
PAYLOAD_SPEC = 1  # lineitem.l_orderkey -> orders: the largest tables
PAYLOAD_QUERIES = ["profile_orders", "kmeans_iterate",
                   "closed_sessions_stream"]
# tables whose parquet round-trips through Spark unchanged (events'
# nanosecond timestamps come back as longs)
SNAPSHOT_CANDIDATES = ["customer", "supplier", "part", "nation", "region"]
V1_MS, V2_MS = 1_000, 2_000
RESIDUE_MOD = 8


def same_table(got, want) -> bool:
    return canon(*got) == want


def payload(spark, tracer, seed: int, duck: Duck, work_dir: str) -> Workload:
    from gcp_datalake_utils_spark import queries_registry as qr
    from gcp_datalake_utils_spark.operators import datatest
    from gcp_datalake_utils_spark.sources import load_table, snapshots

    data_dir = duck.data_dir
    rng = random.Random(seed)
    snap_tables = ["orders", rng.choice(SNAPSHOT_CANDIDATES)]
    residue = rng.randrange(RESIDUE_MOD)
    state = {"pass": 0}
    src_mb = {t: os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
              / 2**20 for t in snap_tables}

    def spec_op(i: int) -> Op:
        spec = datatest.DATA_TEST_SPECS[i]

        def run():
            with tracer.span("operators.datatest"):
                return _collect(datatest.test_relationship(
                    spark, data_dir, *spec))

        return Op(f"datatest:{spec[0]}.{spec[1]}", run,
                  lambda: duck.cached(datatest._one_oracle(*spec), canon),
                  same_table)

    def query_op(name: str) -> Op:
        fn = qr.QUERIES[name]

        def run():
            with tracer.span(f"query.{name}.build"):
                df = fn(spark, data_dir)
            with tracer.span(f"query.{name}.exec"):
                return _collect(df)

        return Op(f"query:{name}", run,
                  lambda: duck.cached(qr.ORACLES[name], canon), same_table)

    def restore_run():
        p = state["pass"]
        base = os.path.join(work_dir, "snapshots", f"p{p}")
        target = os.path.join(work_dir, "restored", f"p{p}")
        for t in snap_tables:
            with tracer.span("sources.snapshots", kind="write",
                             src_mb=src_mb[t]):
                snapshots.write_snapshot(load_table(spark, data_dir, t),
                                         base, t, V1_MS)
        with tracer.span("sources.snapshots", kind="write",
                         src_mb=src_mb["orders"]):
            v2 = load_table(spark, data_dir, "orders").filter(
                f"o_orderkey % {RESIDUE_MOD} != {residue}")
            snapshots.write_snapshot(v2, base, "orders", V2_MS)
        with tracer.span("sources.snapshots", kind="diff"):
            diff = dict(snapshots.snapshot_diff(
                spark, base, "orders", V1_MS, V2_MS, ["o_orderkey"])
                .groupBy("status").count().collect())
        with tracer.span("sources.snapshots", kind="restore"):
            summary = sorted(list(r) for r in snapshots.restore_dataset(
                spark, base, snap_tables, V1_MS, target).collect())
        return {"diff": diff, "summary": summary, "target": target}

    def restore_expect():
        n_all, n_del = duck.cached(
            f"SELECT count(*), count(*) FILTER (o_orderkey % {RESIDUE_MOD}"
            f" = {residue}) FROM orders")[0][0]
        return {"diff": {"removed": n_del, "unchanged": n_all - n_del},
                "summary": sorted([t, "restored", f"as_of={V1_MS}"]
                                  for t in snap_tables)}

    def restore_matches(got, want) -> bool:
        if got["diff"] != want["diff"] or got["summary"] != want["summary"]:
            return False
        # each restored table holds exactly the rows of its v1, which
        # is the input table (as multisets, compared in DuckDB)
        for t in snap_tables:
            files = os.path.join(got["target"], t, "*.parquet")
            if not glob.glob(files):
                return False
            src_cols = duck.rows(f"SELECT * FROM {t} LIMIT 0")[1]
            scan = f"read_parquet('{files}')"
            if sorted(duck.rows(f"SELECT * FROM {scan} LIMIT 0")[1]) \
                    != sorted(src_cols):
                return False
            cols = ", ".join(src_cols)
            a, b = f"SELECT {cols} FROM {scan}", f"SELECT {cols} FROM {t}"
            extra = duck.rows(
                f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
                f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))")[0][0][0]
            if extra != 0:
                return False
        return True

    ops = ([spec_op(PAYLOAD_SPEC)]
           + [query_op(n) for n in PAYLOAD_QUERIES]
           + [Op("restore:" + "+".join(snap_tables), restore_run,
                 restore_expect, restore_matches)])
    rng.shuffle(ops)

    def before_pass(p: int) -> None:
        state["pass"] = p

    def close() -> None:
        for d in ("snapshots", "restored"):
            shutil.rmtree(os.path.join(work_dir, d), ignore_errors=True)

    return Workload(ops, before_pass, close)


def install_payload_spans(tracer) -> None:
    """Spans around every engine module's use of the registry loader,
    each recording the on-disk size of the table it loads (Spark's stage
    input bytes do not count local parquet reads)."""
    from gcp_datalake_utils_spark.sources import registry

    original = registry.load_table

    def load_table(spark, sf_dir, name):
        path = os.path.join(sf_dir, f"{name}.parquet")
        with tracer.span("sources.registry",
                         mb=os.path.getsize(path) / 2**20):
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("gcp_datalake_utils_spark")
                and getattr(mod, "load_table", None) is original):
            mod.load_table = load_table


WORKLOADS = {"erd": (erd, install_erd_spans),
             "payload": (payload, install_payload_spans)}
