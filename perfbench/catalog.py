"""The batch-catalog half of workload ``corpus``: one entry query per
operator family.

Each query of ``QUERIES`` is built with ``__spark_entry__.queries()[name]``
and run once to a ``noop`` sink; its wall is construction plus the write.
The ``CACHE_DEPS`` artifacts are built by ``warm_caches`` during set-up and
re-warmed untimed after each query's ``clearCache``, as ``bench.py`` does.
A first, untimed run of every query is the warm-up and collects the
result for the correctness check; the timed write is the plan's second
run. The inputs are the ten sf0.1-shaped tables from ``gen.py tables``.

Correctness: each query's result must match its ``oracle_sql()`` twin run
in DuckDB, under the repository's oracle rule, imported from
``tests/oracle_utils.py`` (no array cells, row count, column names, and an
order-free hash of canonical rows). Each mismatching query is one failed
operation.
"""

from __future__ import annotations

import time

import obs
import stats
from metrics import CATALOG_FAMILIES as FAMILIES
from tests.oracle_utils import _reject_array_cells, canonical_hash, duckdb_connect

#: query -> family: the operator module that builds it
QUERIES = {
    "q2_session_stats_30m": "sessionize",
    "tpch_q14_type_share": "relational",
    "charset_stats": "text",
    "dedup_minhash_jaccard": "dedup",
    "sim_cosine_q8_topk": "similarity",
    "decontaminate_semantic": "pipeline",
    "multimodal_byte_stats": "multimodal",
}


def matches(spark_pdf, oracle_pdf) -> bool:
    """The repository's oracle rule (tests/oracle_utils.py): no array
    cells, equal row count and column names, equal canonical hash."""
    try:
        _reject_array_cells(spark_pdf, "spark")
        _reject_array_cells(oracle_pdf, "oracle")
    except TypeError:
        return False
    return (
        len(spark_pdf) == len(oracle_pdf)
        and sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
        and canonical_hash(spark_pdf) == canonical_hash(oracle_pdf)
    )


class Catalog:
    def __init__(self, ctx, sf_dir: str):
        self.ctx, self.tracer, self.sf_dir = ctx, ctx.tracer, sf_dir
        self.runs: list[dict] = []
        self.results = {}

    def setup(self, spark) -> None:
        """Build the CACHE_DEPS artifacts, then warm up and check in one
        pass: every query's plan runs once (JIT, codegen, Arrow workers)
        and its collected result feeds the oracle check, so the timed pass
        is each plan's second run, as in bench.py's steady state."""
        import __spark_entry__ as entry

        self.entry, self.queries = entry, entry.queries()
        self.deps = {n: entry.CACHE_DEPS.get(n, ()) for n in QUERIES}
        t = time.perf_counter()
        entry.warm_caches(spark, self.sf_dir,
                          tuple(sorted({d for ds in self.deps.values() for d in ds})))
        self.warm_caches_s = time.perf_counter() - t
        for name in QUERIES:
            entry.warm_caches(spark, self.sf_dir, self.deps[name])
            self.results[name] = self.queries[name](spark, self.sf_dir).toPandas()
            spark.catalog.clearCache()

    def measure(self, spark, heap) -> None:
        """Time each query once; the live heap is read after each write,
        while the query's cached artifacts are still held."""
        tracer = self.tracer
        for name in QUERIES:
            self.entry.warm_caches(spark, self.sf_dir, self.deps[name])
            with tracer.span("query", query=name, family=QUERIES[name]):
                a = time.time()
                with tracer.span("construct"):
                    df = self.queries[name](spark, self.sf_dir)
                b = time.time()
                with tracer.span("write"):
                    df.write.format("noop").mode("overwrite").save()
                c = time.time()
            self.runs.append({"name": name, "a": a, "b": b, "c": c})
            heap.sample()
            spark.catalog.clearCache()

    def report(self, jobs: list[dict] | None) -> dict:
        con = duckdb_connect(self.sf_dir)
        con.execute("SET threads TO 4")
        oracle = self.entry.oracle_sql()
        bad = [n for n in QUERIES
               if not matches(self.results[n], con.execute(oracle[n]).df())]
        con.close()

        walls = {r["name"]: r["c"] - r["a"] for r in self.runs}
        named = {
            "catalog_s": {"value": sum(walls.values()), "unit": "s", "n": len(walls)},
            "query_p50_s": {"value": stats.percentile(list(walls.values()), 50),
                            "unit": "s", "n": len(walls)},
        }
        layers = self._layers(jobs) if jobs is not None else {}
        return {"attempted": len(QUERIES), "failed": len(bad), "named": named,
                "layers": layers, "info": {"walls_s": walls, "mismatched": bad}}

    def _layers(self, jobs: list[dict]) -> dict:
        fam = {f: {"construct_s": 0.0, "construct_jobs": 0, "plan_s": 0.0,
                   "exec_s": 0.0, "jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                   "spill_bytes": 0} for f in FAMILIES}
        run_ms = wall = 0.0
        for r in self.runs:
            f = fam[QUERIES[r["name"]]]
            built = obs.job_totals(obs.jobs_between(jobs, r["a"], r["b"]))
            ran = obs.job_totals(obs.jobs_between(jobs, r["b"], r["c"]))
            first = ran["first_submit"] if ran["first_submit"] is not None else r["c"]
            f["construct_s"] += r["b"] - r["a"]
            f["construct_jobs"] += built["jobs"]
            f["plan_s"] += first - r["b"]
            f["exec_s"] += r["c"] - first
            for k in ("jobs", "tasks", "shuffle_bytes", "spill_bytes"):
                f[k] += ran[k]
            run_ms += built["run_ms"] + ran["run_ms"]
            wall += r["c"] - r["a"]
        layers = {f"{f}.{k}": v for f, vals in fam.items() for k, v in vals.items()}
        layers["catalog.core_busy_share"] = run_ms / 1000.0 / (wall * self.ctx.cpus)
        layers["entry.warm_caches_s"] = self.warm_caches_s
        _trace_plan_exec(self.tracer, jobs)
        return layers


def _trace_plan_exec(tracer, jobs: list[dict]) -> None:
    """Split each recorded ``write`` span at its first job submission into
    ``plan`` and ``exec`` children."""
    for s in [s for s in tracer.spans if s["name"] == "write"]:
        first = obs.job_totals(obs.jobs_between(jobs, s["start"], s["end"]))["first_submit"]
        if first is None:
            continue
        tracer.add("plan", s["start"], first, s["trace"], parent=s["id"])
        tracer.add("exec", first, s["end"], s["trace"], parent=s["id"])
