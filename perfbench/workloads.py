"""The three workloads: what each iteration runs and how its outputs are
checked. Each ``run`` returns ``{output name: Arrow table}`` — the tables
are the forced outputs — plus a dict of counters the program reported.

The engine is reached only through its public entry points: the ``plans``
pipelines, ``operators.spatial.knn_join`` and the driver queries of
``__spark_entry__``, looked up by module attribute at call time so that a
traced run sees its wrapped functions.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from check import checksum
from gen import knn_points

KNN_K = 3
KNN_SAMPLE = 64  # queries brute-forced per iteration


class Workload:
    name = ""
    min_warm = 2  # warm iterations per untraced run, however short --seconds

    def __init__(self, spark, input_dir: str, meta: dict, tracer) -> None:
        self.spark = spark
        self.dir = input_dir
        self.meta = meta
        self.tracer = tracer
        # register the input: list the file, read its footer and schema
        self.docs_path = os.path.join(input_dir, "documents.parquet")
        spark.read.parquet(self.docs_path).schema

    def force(self, name: str, df) -> pa.Table:
        """The benchmark's output action: collect every row as Arrow."""
        return self.tracer.span("force", name, df.toArrow)

    def entry(self, fn, *args):
        """Call a driver-query helper of ``__spark_entry__`` (it reads the
        input, which starts a schema job) inside an ``entry`` span."""
        return self.tracer.span("entry", fn.__name__, fn, *args)

    def run(self) -> tuple[dict[str, pa.Table], dict]:
        raise NotImplementedError

    def check(self, outputs: dict[str, pa.Table]) -> list[str]:
        """Names of the outputs that differ from their oracle twin."""
        bad = []
        for name, want in self.meta["oracle"].items():
            got = outputs.get(name)
            if got is None or checksum(got) != want:
                bad.append(name)
        return bad


class Hydro(Workload):
    """plans.run_reference_network exactly as the ``reference_network``
    driver query calls it, plus the TraversalMetrics the query does not
    pass."""

    name = "hydro"
    min_warm = 3  # driver-bound: single walls swing more than corpus's

    def run(self):
        import __spark_entry__ as E
        from bdtopo2refhydro_spark import plans
        from bdtopo2refhydro_spark.operators.graph import TraversalMetrics

        metrics = TraversalMetrics()
        edges = self.entry(E._tree_geom_edges, self.spark, self.dir)
        outlet = self.entry(E._outlet_band, self.spark)
        troncon, _ = plans.run_reference_network(
            edges, outlet, tolerance=1.0, cell_size=5000.0, metrics=metrics)
        out = self.force("reference_network", troncon.select("url"))
        return {"reference_network": out}, {"graph_rounds": len(metrics.rounds)}


class Tiles(Workload):
    """pip_join, tile_assign and zonal_pct through their driver queries,
    then a self-kNN (k=3, every 7th point queries) through
    operators.spatial.knn_join at the operator's default cell size."""

    name = "tiles"
    QUERIES = ["pip_join", "tile_assign", "zonal_pct"]

    def __init__(self, *a) -> None:
        super().__init__(*a)
        ids = np.asarray(pq.read_table(self.docs_path,
                                       columns=["doc_id"]).column(0))
        self.ids = ids
        self.x, self.y = knn_points(ids)
        self.queries = ids[ids % 7 == 0]
        rng = np.random.default_rng(self.meta["seed"])
        self.sample = rng.choice(self.queries, replace=False,
                                 size=min(KNN_SAMPLE, len(self.queries)))

    def run(self):
        import __spark_entry__ as E
        from bdtopo2refhydro_spark.operators import spatial
        from pyspark.sql import functions as F

        spark, qs = self.spark, E.queries()
        out = {name: self.force(name, self.entry(qs[name], spark, self.dir))
               for name in self.QUERIES}
        pts = self.entry(E._docs, spark, self.dir).select(
            "doc_id",
            F.expr(f"CAST({E._H} % 100000 AS LONG)").alias("x"),
            F.expr(f"CAST(({E._H} div 7) % 100000 AS LONG)").alias("y"),
        )
        queries = pts.filter(F.expr("doc_id % 7 = 0")) \
            .select(F.col("doc_id").alias("qid"), "x", "y")
        data = pts.select(F.col("doc_id").alias("did"), "x", "y")
        knn = spatial.knn_join(queries, data, k=KNN_K, extent=100_000,
                               self_contained=True)
        out["knn_join"] = self.force("knn_join", knn)
        return out, {}

    def check(self, outputs):
        bad = super().check(outputs)
        knn = outputs.get("knn_join")
        if knn is None or not self._knn_exact(knn):
            bad.append("knn_join")
        return bad

    def _knn_exact(self, knn: pa.Table) -> bool:
        """Row count = k x queries, and a seeded sample of queries matches
        a brute-force scan over every point, ties broken on did."""
        if knn.num_rows != KNN_K * len(self.queries):
            return False
        t = knn.select(["qid", "did", "d2", "rn"]).to_pandas()
        t = t[t["qid"].isin(self.sample)].sort_values(["qid", "rn"])
        pos = {int(q): i for i, q in enumerate(self.ids)}
        for q, rows in t.groupby("qid"):
            i = pos[int(q)]
            d2 = (self.x - self.x[i]) ** 2 + (self.y - self.y[i]) ** 2
            best = np.lexsort((self.ids, d2))[:KNN_K]
            if (rows["did"].tolist() != self.ids[best].tolist()
                    or rows["d2"].tolist() != d2[best].tolist()
                    or rows["rn"].tolist() != list(range(1, KNN_K + 1))):
                return False
        return t["qid"].nunique() == len(self.sample)


class Corpus(Workload):
    """plans.run_curation_pipeline (batch) then plans.run_refresh_pipeline
    (the next snapshot against the old corpus) through the
    ``curation_pipeline`` and ``refresh_pipeline`` driver queries."""

    name = "corpus"
    QUERIES = ["curation_pipeline", "refresh_pipeline"]

    def run(self):
        import __spark_entry__ as E

        qs = E.queries()
        return ({name: self.force(name, self.entry(qs[name], self.spark,
                                                   self.dir))
                 for name in self.QUERIES}, {})


WORKLOADS = {w.name: w for w in (Hydro, Tiles, Corpus)}
