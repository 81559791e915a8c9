"""The benchmark workloads.

Each workload builds its tables (``build``, repeated per set-up), runs
a one-time preparation (``prepare``); the runner then warms it up with
untimed ops and serves closed-loop ops
(``op``): the next op starts only after the previous one returned. An
op draws its choices from the run's seeded generator, so the same seed
gives the same op sequence. ``check`` compares an op's output with the
value recorded in ``expected.json`` and returns a list of problems;
``units`` is the op's work in the workload's throughput unit.

Tables come from a fixed table seed, so their expected outputs can be
recorded once; ``--seed`` picks the op sequence over them.
"""

from __future__ import annotations

import numpy as np

from perfbench import data

TABLE_SEED = 20_251_017
# every table is written as N_FILES parquet files, read as one partition
# each (see run.py), so seeded samples do not depend on the core count
N_FILES = 8

SIZES = {
    # orders -> about 4x lineitem rows; docs split into SLICES slices
    "full": {"orders": 150_000, "synth_orders": 5_000, "docs": 5_000,
             "synth_rows": 500_000},
    "tiny": {"orders": 1_500, "synth_orders": 1_500, "docs": 400,
             "synth_rows": 10_000},
}


class Workload:
    name = ""
    unit = ""  # what one unit of throughput is

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.scale]

    def build(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time work the ops rely on, after the tables are built."""

    def op(self, rng) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list:
        raise NotImplementedError

    def units(self, out: dict) -> float:
        raise NotImplementedError

    def cleanup(self, out: dict) -> None:
        """Release what an op left cached (not timed)."""

    def expected(self) -> dict:
        return self.ctx.expected[self.name][self.ctx.scale]

    def _parquet(self, name: str, columns: dict):
        path = data.write_parquet(self.ctx.path(name), columns, N_FILES)
        return self.ctx.spark.read.parquet(path)


def _close(value: float, expected: float) -> bool:
    """Lower-is-better metric no worse than recorded beyond 1e-6 rel."""
    return bool(np.isfinite(value)) and (
        value <= expected + 1e-6 * max(abs(expected), 1e-12))


class FitSynth(Workload):
    """Fit, then synthesize: the reference's headline fit and its main
    downstream use, in one op.

    1. The full default registry (91 kernels) fitted eagerly to
       ``l_extendedprice`` of an sf0.1-sized ``lineitem`` and ranked by a
       seeded metric. The column is fixed so every op does the same
       fitting work.
    2. A Gaussian copula over four columns of a 20k-row ``lineitem``:
       marginals picked by KS from a lazy-metrics fit made once in
       ``prepare`` (so KS is recomputed on the driver), Spearman
       correlation, then 500k correlated rows generated and counted.

    The seed picks the ranking metric and the generator seed; every op
    does the same work.
    """

    name = "fit_synth"
    unit = "ops"
    COLUMN = "l_extendedprice"
    METRICS = ["aic", "sse", "ks_statistic"]
    COPULA_COLUMNS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    MARGINALS = ["norm", "lognorm", "gamma", "uniform", "expon"]

    def build(self):
        from spark_bestfit_spark.fitter import DistributionFitter

        lineitem, _ = data.tpch_lineitem_orders(self.size["orders"],
                                                TABLE_SEED)
        self.table = self._parquet("lineitem", lineitem)
        small, _ = data.tpch_lineitem_orders(self.size["synth_orders"],
                                             TABLE_SEED)
        self.synth_table = self._parquet("lineitem_small", small)
        self.fitter = DistributionFitter(self.ctx.spark)

    def fit_marginals(self):
        self.marginals = self.fitter.fit(
            self.synth_table, columns=self.COPULA_COLUMNS,
            distributions=self.MARGINALS, lazy_metrics=True)

    def fit(self, metric):
        results = self.fitter.fit(self.table, column=self.COLUMN)
        return results, results.best(metric=metric)

    def synthesize(self, n, seed):
        from spark_bestfit_spark.models.copula import GaussianCopula

        copula = GaussianCopula.fit(self.marginals, self.synth_table,
                                    columns=self.COPULA_COLUMNS,
                                    metric="ks_statistic")
        with self.ctx.tracer.span("generate"):
            rows = copula.sample_distributed(self.ctx.spark, n,
                                             seed=seed).count()
        return copula, rows

    def prepare(self):
        self.fit_marginals()

    def op(self, rng):
        metric = self.METRICS[rng.integers(len(self.METRICS))]
        n = self.size["synth_rows"]
        seed = int(rng.integers(2**31))
        results, best = self.fit(metric)
        copula, rows = self.synthesize(n, seed)
        return {"label": f"{metric} n={n}", "metric": metric,
                "winner": best.distribution,
                "value": float(getattr(best, metric)), "results": results,
                "n": n, "rows": rows, "corr": copula.correlation,
                "marginals": {c: m.distribution
                              for c, m in copula.marginals.items()}}

    def check(self, out):
        with self.ctx.tracer.span("check"):
            out["counts"] = {"result_rows": out["results"].count()}
        want = self.expected()
        fit = want["fit"][out["metric"]]
        problems = []
        if out["winner"] != fit["winner"]:
            problems.append(f"{out['metric']}: winner {out['winner']} "
                            f"!= {fit['winner']}")
        if not _close(out["value"], fit["value"]):
            problems.append(f"{out['metric']}: best {out['value']!r} "
                            f"worse than {fit['value']!r}")
        if out["rows"] != out["n"]:
            problems.append(f"generated {out['rows']} rows, asked {out['n']}")
        err = float(np.max(np.abs(out["corr"] - np.array(want["corr"]))))
        if not err <= 1e-9:
            problems.append(f"correlation differs by {err:.3g}")
        if out["marginals"] != want["marginals"]:
            problems.append(f"marginals {out['marginals']} "
                            f"!= {want['marginals']}")
        return problems

    def units(self, out):
        return 1

    def cleanup(self, out):
        out["results"].unpersist()


class NearDup(Workload):
    """One curation pass over a slice of ``documents``: MinHash pairs ->
    clusters, exact PPJoin set-similarity join, TF-IDF prefix pairs.

    The seed picks the slice, one of SLICES runs of consecutive ids of
    equal length.
    """

    name = "neardup"
    unit = "docs"
    SLICES = 20

    def build(self):
        docs = data.documents(self.size["docs"], TABLE_SEED)
        self.docs = self._parquet("documents", docs)
        self.per_slice = self.size["docs"] // self.SLICES

    def _slice(self, k):
        return self.docs.filter(f"doc_id div {self.per_slice} = {k}")

    def _pass(self, docs):
        from spark_bestfit_spark.operators import dedup, linkage, textstats

        span = self.ctx.tracer.span
        with span("dedup.minhash"):
            pairs = dedup.minhash_dedup_pairs(docs, threshold=0.7)
            n_pairs = pairs.count()
        with span("dedup.clusters"):
            n_clusters = dedup.neardup_clusters(pairs).count()
        with span("linkage"):
            # every tenth document of the slice probes the other nine
            probe = "doc_id % 10 = 0"
            left = docs.filter(f"NOT {probe}").selectExpr(
                "doc_id AS id_l", "text AS ta")
            right = docs.filter(probe).selectExpr(
                "doc_id AS id_r", "text AS tb")
            n_setsim = linkage.set_similarity_join(
                left, right, "ta", "tb", "id_l", "id_r", 0.95).count()
        with span("textstats"):
            n_tfidf = textstats.tfidf_neardup_pairs(
                docs, threshold=0.9, candidates="prefix").count()
        return {"minhash_pairs": n_pairs, "cluster_rows": n_clusters,
                "setsim_pairs": n_setsim, "tfidf_pairs": n_tfidf}

    def op(self, rng):
        k = int(rng.integers(self.SLICES))
        return {"label": f"slice {k}", "slice": k,
                "counts": self._pass(self._slice(k))}

    def check(self, out):
        want = self.expected()[str(out["slice"])]
        if out["counts"] != want["counts"]:
            return [f"slice {out['slice']}: {out['counts']} != "
                    f"{want['counts']}"]
        return []

    def units(self, out):
        return self.per_slice


WORKLOADS = {w.name: w for w in (FitSynth, NearDup)}
