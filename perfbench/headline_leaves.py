"""Workload ``headline_leaves``: one pass over headline registry leaves.

The leaves are query functions from ``__spark_entry__._full_registries()``
named in ``bench.HEADLINE``, run over the TPC-H-like tables committed
under ``perfbench/data/sf0.01``. One operation runs every leaf of
``LEAVES`` once, in an order drawn from the seed, and collects each
result: the full computation runs (no column pruning, as a ``count()``
would allow) and the rows it returns are the ones checked.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time

import bench
import __spark_entry__ as entry_mod
from hyrise_generalized_dedup_spark.ann.queries import ANN_QUERIES
from hyrise_generalized_dedup_spark.dedup.queries import DEDUP_QUERIES
from hyrise_generalized_dedup_spark.functions.queries import TEXT_QUERIES
from hyrise_generalized_dedup_spark.plans import RELATIONAL_QUERIES
from hyrise_generalized_dedup_spark.sources.queries import SOURCE_QUERIES
from hyrise_generalized_dedup_spark.stats.queries import STATS_QUERIES

from eventlog import metrics_of
from procstat import dir_entries

GROUPS = {
    "plans": RELATIONAL_QUERIES,
    "dedup_queries": DEDUP_QUERIES,
    "functions": TEXT_QUERIES,
    "ann": ANN_QUERIES,
    "stats": STATS_QUERIES,
    "sources": SOURCE_QUERIES,
}

# A subset of bench.HEADLINE sized so that two warm-up passes and three
# measured passes fit one run (NOTES.md): every registry group,
# gd_dedup_ratio for the end-to-end dedup_ratio, and four of the
# ROADMAP's targeted leaves.
LEAVES = (
    "q21_waiting_suppliers",
    "gd_dedup_ratio",
    "cdc_chunk_census",
    "code_clone_census",
    "ann_topk_brute",
    "table_edc_histogram",
    "meta_segments_sfdir",
)

WARMUP_PASSES = 2

# the ROADMAP-targeted leaves of LEAVES, each with its own wall metric
TRACKED = (
    "cdc_chunk_census",
    "code_clone_census",
    "table_edc_histogram",
    "q21_waiting_suppliers",
)

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def group_of(name: str) -> str:
    return next(g for g, reg in GROUPS.items() if name in reg)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def value_hash(columns: list[str], rows: list) -> str:
    """Order-insensitive hash of a result: rows normalised (floats to nine
    significant digits), sorted, hashed with the column names."""
    h = hashlib.sha256(repr(columns).encode())
    for line in sorted(repr(_norm(tuple(r))) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def record(section: dict, seed: int, sample: dict) -> dict:
    return sample["observed"]


class Workload:
    def __init__(self, spark, seed: int, work_dir: str, tracer, expected: dict):
        self.spark = spark
        self.order = list(LEAVES)
        random.Random(seed).shuffle(self.order)
        self.tracer = tracer
        self.expected = expected
        self.tmp_dir = os.environ["TMPDIR"]
        missing = [n for n in LEAVES if n not in bench.HEADLINE]
        if missing:
            raise ValueError(f"leaves not in bench.HEADLINE: {missing}")
        self.queries = entry_mod._full_registries()[0]

    def setup(self) -> None:
        # each pass until about the fourth runs 5-10% faster than the one
        # before (JIT tiers still compiling): two passes before measuring
        for _ in range(WARMUP_PASSES):
            self._pass()

    def _pass(self) -> dict:
        per_leaf, results = {}, {}
        for name in self.order:
            self.tracer.switch(f"leaf.{name}")
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, DATA_DIR)
            rows = df.collect()
            per_leaf[name] = time.perf_counter() - t0
            results[name] = (df.columns, rows)
        self.tracer.switch(None)
        return {"per_leaf": per_leaf, "results": results}

    def op(self) -> dict:
        before = dir_entries(self.tmp_dir)
        t0 = time.perf_counter()
        res = self._pass()
        res["wall_s"] = time.perf_counter() - t0
        after = dir_entries(self.tmp_dir)
        res["tmp_mb_leaked"] = sum(b for n, b in after.items() if n not in before) / 2**20
        return res

    def check(self, res: dict) -> dict:
        errors, observed = [], {}
        for name, (columns, rows) in res["results"].items():
            got = {"rows": len(rows), "hash": value_hash(columns, rows)}
            observed[name] = got
            want = self.expected.get(name)
            if want != got:
                errors.append(f"{name}: got {got}, committed {want}")
        _, rows = res["results"]["gd_dedup_ratio"]
        return {
            "errors": errors,
            "observed": observed,
            "per_leaf_s": res["per_leaf"],
            "tmp_mb_leaked": res["tmp_mb_leaked"],
            "dedup_ratio": float(rows[0]["dedup_ratio"]),
            "items": len(res["results"]),
        }

    # ---- traced run -----------------------------------------------------
    def span_errors(self, spans: list, sample: dict) -> list[str]:
        """Cross-check: one span per leaf, agreeing with the pass's own timing."""
        errors = []
        for name, wall_s in sample["per_leaf_s"].items():
            got = [sp.end_ms - sp.start_ms for sp in spans if sp.name == f"leaf.{name}"]
            if len(got) != 1 or abs(got[0] - wall_s * 1000) > 50 + 0.02 * wall_s * 1000:
                errors.append(f"span leaf.{name} {got} ms vs timed {wall_s * 1000:.0f} ms")
        return errors

    def layer_metrics(self, spans: list, sample: dict, cores: int) -> dict:
        """Per-layer metrics of one traced pass."""
        m: dict[str, float] = {}
        for g in GROUPS:
            gm = metrics_of([sp for sp in spans if group_of(sp.name[len("leaf.") :]) == g], cores)
            for key in ("wall_s", "core_util", "single_task_stages", "shuffle_write_mb"):
                m[f"leaves.{g}.{key}"] = gm[key]
        total = metrics_of(spans, cores)
        m["leaves.driver_gap_s"] = total["wall_s"] - total["stage_busy_s"]
        m["leaves.gc_s"] = total["gc_s"]
        m["leaves.tmp_mb_leaked"] = sample["tmp_mb_leaked"]
        for name in TRACKED:
            m[f"leaf.{name}.wall_s"] = metrics_of(
                [sp for sp in spans if sp.name == f"leaf.{name}"], cores
            )["wall_s"]
        return m

    def traced_extra(self) -> dict:
        return {}
