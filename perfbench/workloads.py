"""The benchmark's workloads: inputs made from the seed, one op, and the
checks each op's outputs must pass.

An op is what a user of the engine runs end to end.  ``op`` is timed;
``check`` is not: it raises ``CheckFailed`` when an output is wrong and
otherwise returns the op's counts for the layer table.
Each layer call in an op sits in a tracer span named
``<module>.<function>`` (see tracing.py).

A workload's ``extras`` are ops that only a traced run makes, once,
after its timed ops: they put the layers no workload's timed op calls
into the layer table (see README.md for why they are not timed ops).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

import tables


class CheckFailed(Exception):
    pass


# ---------------------------------------------------------------- coloring


def reference_coloring(n: int, src: np.ndarray, dst: np.ndarray):
    """Sequential NumPy replay of ``operators.coloring.minimal_coloring``
    on a symmetric edge list over ids ``0..n-1``: the same palette
    descent (start at max degree + 1, retry with colors used - 1 until an
    attempt fails), and per round the same rule (each uncolored vertex
    proposes its lowest free color below ``min(k, degree + 1)``; it keeps
    it unless a neighbour with a larger (degree, id) proposed the same
    color).  Returns ``(colors, attempts)`` with attempts as
    ``[(k, success, rounds)]``."""
    deg = np.bincount(src, minlength=n)
    k = int(deg.max(initial=0)) + 1
    best, attempts = -1, []
    while k >= 1:
        color = np.full(n, -1)
        rounds = 0
        while True:
            rounds += 1
            unc = color < 0
            if not unc.any():
                best = int(color.max(initial=-1)) + 1
                attempts.append((k, True, rounds))
                break
            used = np.zeros((n, k), dtype=bool)
            hit = color[dst] >= 0
            used[src[hit], color[dst[hit]]] = True
            limit = np.minimum(k - 1, deg)
            free = ~used & (np.arange(k)[None, :] <= limit[:, None])
            has = free.any(axis=1)
            cand = np.where(has, free.argmax(axis=1), -1)
            if (unc & ~has).any():
                attempts.append((k, False, rounds))
                break
            both = unc[src] & unc[dst] & (cand[src] == cand[dst])
            beaten = both & (
                (deg[dst] > deg[src]) | ((deg[dst] == deg[src]) & (dst > src))
            )
            win = unc.copy()
            win[src[beaten]] = False
            color[win] = cand[win]
        if not attempts[-1][1]:
            break
        k = best - 1
    return best, attempts


class ColorUniform:
    """``generate_graph_distributed`` → ``minimal_coloring`` →
    ``validate_coloring``: the paper's core on a uniform random graph."""

    name = "color_uniform"
    spans = (
        "generator.generate_graph_distributed",
        "coloring.minimal_coloring",
        "coloring.validate_coloring",
    )
    NODES = 5_000
    MAX_DEGREE = 8  # 13 rounds (a k=9 success, a k=5 failure) for every seed tried
    WARMUP = 0  # one op outlasts the window; a warm-up op would double the run

    def __init__(self, seed: int, tmp: str) -> None:
        self.seed = seed
        self.reference: tuple[int, list] | None = None

    def prepare(self) -> None:
        """The graph is generated inside the op, from the seed."""

    def extras(self, tmp: str) -> list:
        return [ColorCustomers(self.seed, tmp)]

    def op(self, spark, tracer):
        from distributed_graph_coloring_with_pyspark_spark.operators.coloring import (
            minimal_coloring,
            validate_coloring,
        )
        from distributed_graph_coloring_with_pyspark_spark.sources.generator import (
            generate_graph_distributed,
        )

        with tracer.span("generator.generate_graph_distributed"):
            ids, edges = generate_graph_distributed(
                spark, self.NODES, self.MAX_DEGREE, seed=self.seed
            )
            # a caller's persisted working set, so the generator's work
            # lands in its own span rather than in the first coloring job
            edges = edges.persist()
            edges.count()
        with tracer.span("coloring.minimal_coloring"):
            result = minimal_coloring(ids, edges)
        with tracer.span("coloring.validate_coloring"):
            verdict = validate_coloring(result.vertices, edges)
        return result, verdict, edges

    def check(self, spark, out) -> dict[str, float]:
        result, (valid, n_uncolored, conflicts), edges = out
        try:
            if not valid:
                raise CheckFailed(
                    f"validator: uncolored={n_uncolored} conflicts={conflicts}"
                )
            e = edges.toPandas()
            src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
            if self.reference is None:
                self.reference = reference_coloring(self.NODES, src, dst)
            v = result.vertices.select("id", "color").toPandas()
            color = np.full(self.NODES, -1)
            color[v["id"].to_numpy()] = v["color"].fillna(-1).to_numpy()
            if (color < 0).any() or (color[src] == color[dst]).any():
                raise CheckFailed("coloring is incomplete or improper")
            if color.max() + 1 != result.minimal_colors:
                raise CheckFailed("minimal_colors disagrees with the coloring")
            if result.minimal_colors > self.reference[0]:
                raise CheckFailed(
                    f"colors rose: {result.minimal_colors} > {self.reference[0]}"
                )
        finally:
            edges.unpersist()
        return {
            "coloring.colors": result.minimal_colors,
            "coloring.attempts": len(result.attempts),
            "coloring.rounds": sum(rounds for _, _, rounds in result.attempts),
        }


# ---------------------------------------------------------------- ANN index


class AnnIndex:
    """Serve a closed loop of indexed IVFPQ+OPQ queries, one client: only
    ``operators/similarity.py`` does work.  The first op builds the index
    (training the quantizers) and reports its drift before serving, as a
    fresh deployment does; every later op is one query."""

    name = "ann_index"
    spans = (
        "similarity.build_ivfpq_index",
        "similarity.index_drift_report",
        "similarity.ann_ivfpq_topk_indexed",
    )
    VECTORS = 2_000  # the row count of the engine's sf0.1 embeddings table
    CELLS = 16  # the engine's coarse-quantizer size
    PROBES, TOP_K = 20, 5  # the engine's fixed probe set (vec_id < 20) and k
    RECALL_FLOOR = 0.6
    WARMUP = 1  # the first query after the build is still the slowest

    def __init__(self, seed: int, tmp: str) -> None:
        self.seed = seed
        self.sf_dir = os.path.join(tmp, "sf")
        self.index = os.path.join(tmp, "index")
        self.built = False
        self.exact: set | None = None

    def prepare(self) -> None:
        """Isotropic unit vectors, the shape the engine's embeddings
        table has (norm 1, pairwise cosine ~ N(0, 1/64))."""
        rng = np.random.default_rng(self.seed)
        tables.write(self.sf_dir, {"embeddings": tables.embeddings_table(rng, self.VECTORS)})

    def extras(self, tmp: str) -> list:
        return [RebuildIndex(self, tmp), CurationFunnel(tmp)]

    def op(self, spark, tracer):
        from distributed_graph_coloring_with_pyspark_spark.operators import (
            similarity as sim,
        )

        cells = drift = None
        if not self.built:
            self.built = True
            with tracer.span("similarity.build_ivfpq_index"):
                cells = sim.build_ivfpq_index(spark, self.sf_dir, self.index, opq=True)
            with tracer.span("similarity.index_drift_report"):
                drift = sim.index_drift_report(spark, self.sf_dir, self.index).collect()
        with tracer.span("similarity.ann_ivfpq_topk_indexed"):
            served = sim.ann_ivfpq_topk_indexed(spark, self.sf_dir, self.index).collect()
        return cells, drift, served

    def check(self, spark, out) -> dict[str, float]:
        cells, drift, served = out
        if cells is not None and cells != self.CELLS:
            raise CheckFailed(f"index has {cells} cells, not {self.CELLS}")
        if drift is not None and (
            len(drift) != 1
            or drift[0].n_vectors != self.VECTORS
            or not math.isfinite(drift[0].mean_sq_err)
            or drift[0].mean_sq_err <= 0
        ):
            raise CheckFailed(f"drift report {drift}")
        return {"similarity.recall_at_k": self.recall(spark, served)}

    def recall(self, spark, served) -> float:
        """Recall of ``served`` against ``knn_exact_topk`` on the same
        probes; raises below the floor."""
        from distributed_graph_coloring_with_pyspark_spark.operators import (
            similarity as sim,
        )

        if len(served) != self.PROBES * self.TOP_K:
            raise CheckFailed(f"served {len(served)} rows")
        if self.exact is None:
            self.exact = {
                (r.probe_id, r.neighbor_id)
                for r in sim.knn_exact_topk(spark, self.sf_dir).collect()
            }
        got = {(r.probe_id, r.neighbor_id) for r in served}
        recall = len(got & self.exact) / len(self.exact)
        if recall < self.RECALL_FLOOR:
            raise CheckFailed(f"recall@k {recall:.3f} < {self.RECALL_FLOOR}")
        return recall


# ------------------------------------------------------------------ extras


class ColorCustomers:
    """Clear the edge memo, build the customer co-purchase graph
    (lineitem ⋈ orders, then the (part, day) self-join) and color it:
    the coloring layer behind the relational edge build."""

    name = "color_customers"
    spans = ("graph_bridge.customer_graph_edges", "graph_bridge.color_customer_graph")
    SF = 0.002  # 300 customers, 12k line items

    def __init__(self, seed: int, tmp: str) -> None:
        self.seed = seed
        self.sf_dir = os.path.join(tmp, "customers")
        self.customers = int(tables.RATIOS["customer"] * self.SF)

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        tables.write(self.sf_dir, tables.customer_tables(rng, self.SF))

    def op(self, spark, tracer):
        from distributed_graph_coloring_with_pyspark_spark.operators import (
            graph_bridge as gb,
        )

        gb.clear_customer_graph_cache(spark)
        with tracer.span("graph_bridge.customer_graph_edges"):
            edges = gb.customer_graph_edges(spark, self.sf_dir)
            edges.count()  # the memo is lazy: build it inside its own span
        with tracer.span("graph_bridge.color_customer_graph"):
            colors = gb.color_customer_graph(spark, self.sf_dir).toPandas()
        return edges.toPandas(), colors

    def check(self, spark, out) -> dict[str, float]:
        edges, colors = out
        src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
        if len(colors) != self.customers or len(src) == 0:
            raise CheckFailed(f"{len(colors)} colored customers, {len(src)} edges")
        color = np.full(self.customers, -1)
        color[colors["id"].to_numpy()] = colors["color"].fillna(-1).to_numpy()
        if (color < 0).any() or (color[src] == color[dst]).any():
            raise CheckFailed("customer coloring is incomplete or improper")
        best, _ = reference_coloring(self.customers, src, dst)
        if color.max() + 1 > best:
            raise CheckFailed(f"customer colors rose: {color.max() + 1} > {best}")
        return {}


class RebuildIndex:
    """Drift recovery for the ANN workload's index: retrain the
    quantizers and re-encode every vector into a fresh index, then
    serve from it."""

    name = "rebuild_index"
    spans = ("similarity.rebuild_ivfpq_index",)

    def __init__(self, ann: AnnIndex, tmp: str) -> None:
        self.ann = ann
        self.index = os.path.join(tmp, "rebuilt")

    def prepare(self) -> None:
        """Reads the ANN workload's embeddings and index."""

    def op(self, spark, tracer):
        from distributed_graph_coloring_with_pyspark_spark.operators import (
            similarity as sim,
        )

        with tracer.span("similarity.rebuild_ivfpq_index"):
            cells = sim.rebuild_ivfpq_index(spark, self.ann.sf_dir, self.ann.index, self.index)
        return cells

    def check(self, spark, cells) -> dict[str, float]:
        from distributed_graph_coloring_with_pyspark_spark.operators import (
            similarity as sim,
        )

        if cells != self.ann.CELLS:
            raise CheckFailed(f"rebuilt index has {cells} cells")
        self.ann.recall(
            spark, sim.ann_ivfpq_topk_indexed(spark, self.ann.sf_dir, self.index).collect()
        )
        return {}


class CurationFunnel:
    """Clear the classifier and decontamination memos, train the quality
    gate (the GD loop), build the drop set and run the curation funnel
    to its packed-sequence manifest."""

    name = "curation_funnel"
    spans = (
        "classifier.trained_weights_cached",
        "curation.dropped_ids_cached",
        "curation.curation_pipeline_e2e",
    )
    SF = 0.004  # 200 documents, 80 embeddings
    # The corpus is fixed rather than made from the run's seed, so the
    # digest of what the funnel keeps can be recorded for it.
    CORPUS_SEED = 0
    DIGEST = "4a1de49d88eb6459"

    def __init__(self, tmp: str) -> None:
        self.sf_dir = os.path.join(tmp, "corpus")

    def prepare(self) -> None:
        rng = np.random.default_rng(self.CORPUS_SEED)
        tables.write(self.sf_dir, tables.corpus_tables(rng, self.SF))

    def op(self, spark, tracer):
        from distributed_graph_coloring_with_pyspark_spark.operators import (
            classifier,
            curation,
        )

        classifier.clear_classifier_cache(spark)
        curation.clear_decon_cache(spark)
        with tracer.span("classifier.trained_weights_cached"):
            _, _, trained = classifier.trained_weights_cached(spark, self.sf_dir, "full")
        with tracer.span("curation.dropped_ids_cached"):
            dropped = curation.dropped_ids_cached(spark, self.sf_dir).collect()
        with tracer.span("curation.curation_pipeline_e2e"):
            manifest = curation.curation_pipeline_e2e(spark, self.sf_dir).collect()
        return trained, dropped, manifest

    @staticmethod
    def digest(dropped, manifest) -> str:
        """Order-insensitive digest of the drop set and the manifest."""
        kept = {
            "dropped": sorted(r.doc_id for r in dropped),
            "manifest": sorted(list(r) for r in manifest),
        }
        return hashlib.sha256(json.dumps(kept).encode()).hexdigest()[:16]

    def check(self, spark, out) -> dict[str, float]:
        trained, dropped, manifest = out
        docs = int(tables.RATIOS["documents"] * self.SF)
        if trained != docs:
            raise CheckFailed(f"gate trained on {trained} of {docs} documents")
        got = self.digest(dropped, manifest)
        if got != self.DIGEST:
            raise CheckFailed(f"kept-set digest {got} != recorded {self.DIGEST}")
        return {}


WORKLOADS = {w.name: w for w in (ColorUniform, AnnIndex)}
EXTRAS = (ColorCustomers, RebuildIndex, CurationFunnel)
