"""The benchmark workloads.

Each workload builds its inputs from the seed in ``setup`` (timed, and
repeated for ``setup_s``), draws what the timed part needs from them in
``prepare`` (untimed), runs its timed part in ``run_pass`` with one span
per call into an engine layer, and checks the pass's outputs in
``check`` against the benchmark's own oracles, outside every timed
section. Everything a workload writes lives under its own directory,
named after its seed, so the warm-up instance of another seed shares no
files with the measured one.

Every timed call ends by materialising what it returns
(``Session.materialise``, a write or a collect), so its work falls
inside the span that names it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import oracles
from perfbench.harness import median, percentile


def _arrays(df, *cols):
    pdf = df.select(*cols).toPandas()
    return tuple(pdf[c].to_numpy() for c in cols)


def _round_seconds(result) -> list[float]:
    return [m["seconds"] for m in result.metrics]


class Workload:
    name = ""
    stage_units: dict[str, str] = {}

    def __init__(self, session, sandbox, seed: int, tally):
        self.session = session
        self.spark = session.spark
        self.materialise = session.materialise
        self.dir = sandbox.path(f"seed{seed}")
        self.seed = seed
        self.tally = tally
        self.pages_df = None  # pages the extraction layer is timed on

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def setup(self, tracer, rep: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed: draw query keys and sources from the inputs."""

    def run_pass(self, tracer) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> dict:
        """Untimed: verify ``out``; return per-layer facts for the trace."""
        raise NotImplementedError

    def run_extras(self, tracer, out: dict) -> dict:
        """Traced runs only, after the pass and outside ``job_s``:
        the layers that the run-time budget keeps out of the timed pass,
        each in its own span, on that pass's outputs."""
        with tracer.span("extraction"):
            _parse_pages_noop(self.pages_df)
        return {}

    def check_extras(self, extra: dict) -> dict:
        return {}

    def fingerprint(self) -> dict:
        raise NotImplementedError

    def stage_metrics(self, spans: dict, out: dict) -> dict:
        """The workload's own user-facing figures, from the pass's spans
        and its outputs."""
        raise NotImplementedError


def _parse_pages_noop(pages) -> None:
    """Run ``udfs.parse_pages`` over ``pages`` to completion: a noop write
    evaluates every column, where a count would prune the UDF away."""
    from plwordnet_spark.extraction.udfs import parse_pages

    parse_pages(pages).write.format("noop").mode("overwrite").save()


def _digest(*arrays: np.ndarray) -> str:
    """Short content hash of numpy arrays (order-sensitive), for the input
    fingerprint: a change to input-shaping code shows as changed inputs."""
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


def _top_share(keys: np.ndarray) -> float:
    """Share of rows carried by the most frequent key."""
    _, counts = np.unique(keys, return_counts=True)
    return float(counts.max() / len(keys)) if len(keys) else 0.0


def _pages_fingerprint(pages) -> dict:
    row = pages.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url", "html").cast("decimal(38,0)")).alias("h"),
    ).first()
    return {"pages": int(row["n"]), "pages_hash": str(row["h"])}


# --------------------------------------------------------------------------
class CrawlPipeline(Workload):
    """Pages to link graph to PageRank, components and triangles on a small
    web corpus; label propagation and BFS run as traced extras."""

    name = "crawl_pipeline"
    N_PAGES = 1500
    PR_TOL, PR_MAX_ITERS = 1e-6, 2
    LP_MAX_ITERS = 1
    BFS_MAX_HOPS = 2
    stage_units = {
        "build_pages_per_s": "pages/s", "pagerank_s": "s", "components_s": "s",
        "triangles_s": "s",
    }

    def setup(self, tracer, rep):
        from plwordnet_spark.corpus import generate_pages

        with tracer.span("corpus"):
            self.pages = self.materialise(generate_pages(self.spark, self.N_PAGES, self.seed))
        self.pages_df = self.pages

    def prepare(self):
        (page_ids,) = _arrays(self.pages.select(F.xxhash64("url").alias("id")), "id")
        self.source = int(np.random.default_rng(self.seed + 1).choice(np.sort(page_ids)))

    def run_pass(self, tracer):
        from plwordnet_spark.graph.build import build_graph
        from plwordnet_spark.graph.components import connected_components
        from plwordnet_spark.graph.pagerank import pagerank
        from plwordnet_spark.graph.triangles import triangle_count

        spark, out = self.spark, {}
        with tracer.span("graph.build"):
            tables = build_graph(self.pages)
            edges = out["edges"] = self.materialise(tables.edges)
            nodes = out["nodes"] = self.materialise(tables.nodes)
        self.tally.ops()
        with tracer.span("graph.pagerank"):
            out["pr"] = pagerank(
                spark, edges, nodes=nodes, tol=self.PR_TOL,
                max_iterations=self.PR_MAX_ITERS,
            )
            out["ranks"] = self.materialise(out["pr"].state)
        self.tally.ops()
        with tracer.span("graph.components"):
            out["cc"] = connected_components(spark, edges, nodes=nodes)
            out["components"] = self.materialise(out["cc"].state)
        self.tally.ops()
        with tracer.span("graph.triangles"):
            out["triangles"] = triangle_count(edges)
        self.tally.ops()
        return out

    def run_extras(self, tracer, out):
        from plwordnet_spark.graph.bfs import bfs_distances
        from plwordnet_spark.graph.labelprop import label_propagation

        spark, edges, nodes, extra = self.spark, out["edges"], out["nodes"], {}
        with tracer.span("graph.labelprop"):
            extra["lp"] = label_propagation(
                spark, edges, nodes=nodes, max_iterations=self.LP_MAX_ITERS
            )
            extra["labels"] = self.materialise(extra["lp"].state)
        self.tally.ops()
        with tracer.span("graph.bfs"):
            extra["bfs"] = bfs_distances(
                spark, edges, sources=[self.source], nodes=nodes, directed=False,
                max_iterations=self.BFS_MAX_HOPS,
            )
            extra["dist"] = self.materialise(extra["bfs"].state)
        self.tally.ops()
        super().run_extras(tracer, out)
        return extra

    def check_extras(self, extra):
        t, ids, src, dst = self.tally, self.ids, self.src, self.dst
        want, rounds = oracles.label_propagation(src, dst, ids, self.LP_MAX_ITERS)
        want_dist = oracles.bfs_levels(
            np.concatenate([src, dst]), np.concatenate([dst, src]), ids,
            self.source, self.BFS_MAX_HOPS,
        )
        got = _align(ids, *_arrays(extra["labels"], "id", "label"))
        t.check("graph.labelprop", got is not None and np.array_equal(got, want)
                and extra["lp"].iterations == rounds,
                detail="labels differ from the synchronous oracle")
        d_ids, dist = _arrays(extra["dist"], "id", "dist")
        got = _align(ids, d_ids, pd.Series(dist).fillna(-1).astype(np.int64).to_numpy())
        t.check("graph.bfs", got is not None and np.array_equal(got, want_dist),
                detail="levels differ from the numpy frontier BFS")
        lp, bfs = extra["lp"], extra["bfs"]
        frontier = 1 + sum(m.get("frontier_rows", 0) for m in bfs.metrics)
        reached = int((want_dist >= 0).sum())
        return {
            "graph.labelprop": {"iterations": lp.iterations, "round_s": _round_seconds(lp)},
            "graph.bfs": {"rounds": bfs.iterations, "frontier_rows": frontier,
                          "reached": reached, "useful_frac": reached / frontier},
        }

    def check(self, out):
        """The oracles run on the edge table the pass built; the extras'
        oracles reuse it in ``check_extras``."""
        t = self.tally
        src, dst, w = _arrays(out["edges"], "src", "dst", "weight")
        order = np.lexsort((dst, src))
        src, dst, w = src[order], dst[order], w[order]
        ids = np.sort(_arrays(out["nodes"], "id")[0])
        self.src, self.dst, self.ids = src, dst, ids
        self.edges_hash = _digest(src, dst, w, ids)

        pr = out["pr"]
        want = oracles.pagerank(src, dst, w, ids, pr.iterations)
        got = _align(ids, *_arrays(out["ranks"], "id", "rank"))
        t.check("graph.pagerank", got is not None and np.allclose(got, want, rtol=0, atol=1e-12),
                detail="ranks differ from the numpy power iteration")

        want = oracles.components(src, dst, ids)
        got = _align(ids, *_arrays(out["components"], "id", "component"))
        t.check("graph.components", got is not None and np.array_equal(got, want),
                detail="components differ from union-find")

        want = oracles.triangle_count(src, dst)
        t.check("graph.triangles", out["triangles"] == want,
                detail=f"{out['triangles']} != networkx {want}")

        cc = out["cc"]
        return {
            "graph.build": {"edges": len(src)},
            "graph.pagerank": {"iterations": pr.iterations, "round_s": _round_seconds(pr),
                               "edges": len(src)},
            "graph.components": {"iterations": cc.iterations, "round_s": _round_seconds(cc)},
            "graph.triangles": {"count": out["triangles"]},
        }

    def fingerprint(self):
        return {
            **_pages_fingerprint(self.pages),
            "nodes": len(self.ids),
            "edges": len(self.src),
            "hub_share": _top_share(self.dst),
            "bfs_source": self.source,
            "edges_hash": self.edges_hash,
        }

    def stage_metrics(self, spans, out):
        return {
            "build_pages_per_s": self.N_PAGES / spans["graph.build"].seconds,
            "pagerank_s": spans["graph.pagerank"].seconds,
            "components_s": spans["graph.components"].seconds,
            "triangles_s": spans["graph.triangles"].seconds,
        }


# --------------------------------------------------------------------------
class IngestServe(Workload):
    """Streaming writes, then a serving refresh built on what was
    ingested, then point and top-k reads."""

    name = "ingest_serve"
    N_PAGES = 1000
    N_FILES = 2
    COMPACT_EVERY = 2
    MEMBER_SAMPLE = 16  # one page in 16 joins the domain-membership table
    DIM = 32
    N_CENTROIDS, KMEANS_ITERS, NPROBE = 8, 1, 4
    N_LOOKUPS, MISS_SHARE = 2000, 0.1
    N_QUERIES, TOP_K = 32, 10
    RECALL_FLOOR = 0.65  # nprobe 4 of 8 gives ~0.8; a probe of 1 bucket ~0.5
    stage_units = {
        "ingest_pages_per_s": "pages/s", "index_build_s": "s",
        "lookup_p50_us": "us", "lookup_p99_us": "us", "topk_queries_per_s": "queries/s",
    }

    def setup(self, tracer, rep):
        from plwordnet_spark.corpus import generate_pages

        path = self.path(f"pages_{rep}")
        with tracer.span("corpus"):
            (
                generate_pages(self.spark, self.N_PAGES, self.seed)
                .repartition(self.N_FILES, "url")
                .write.parquet(path)
            )
        if rep:
            shutil.rmtree(self.pages_dir, ignore_errors=True)
        self.pages_dir = path
        self.pages_df = self.spark.read.parquet(path)

    def prepare(self):
        """Every page's embedding (the pooling oracle's input), seeded
        lookup keys, a share of them absent, and top-k queries: the
        embeddings of sampled pages' own text. The query frame is local
        data, so no cache backs it."""
        from plwordnet_spark.vectors.hash_embed import hash_embedding

        emb = self.pages_df.select(
            F.xxhash64("url").alias("id"),
            hash_embedding(F.col("text"), dim=self.DIM).alias("embedding"),
        ).toPandas().sort_values("id")
        ids = self.page_ids = emb["id"].to_numpy()
        self.page_vecs = np.stack(emb["embedding"].to_numpy())
        rng = np.random.default_rng(self.seed + 2)
        n_miss = int(self.N_LOOKUPS * self.MISS_SHARE)
        present = rng.choice(ids, size=self.N_LOOKUPS - n_miss)
        absent = rng.integers(-(2**62), 2**62, size=n_miss)
        keys = np.concatenate([present, absent[~np.isin(absent, ids)]])
        rng.shuffle(keys)
        self.keys = [int(k) for k in keys]
        chosen = np.searchsorted(ids, np.sort(rng.choice(ids, size=self.N_QUERIES, replace=False)))
        self.query_ids = ids[chosen]
        self.query_vecs = self.page_vecs[chosen]
        self.queries = self.spark.createDataFrame(
            [(int(q), v.tolist()) for q, v in zip(self.query_ids, self.query_vecs)],
            "query_id long, embedding array<double>",
        )

    def run_pass(self, tracer):
        from plwordnet_spark.storage.serving import PointIndex
        from plwordnet_spark.streaming.ingest import (
            EdgeLog,
            read_page_stream,
            stream_pages_to_edges,
        )
        from plwordnet_spark.vectors.hash_embed import hash_embedding
        from plwordnet_spark.vectors.ivf import IvfIndex, ivf_assign, ivf_topk, kmeans_centroids
        from plwordnet_spark.vectors.pooling import mean_pool

        spark = self.spark
        out = {"log": self.path("edgelog"), "ckpt": self.path("ckpt")}
        with tracer.span("streaming.ingest"):
            query = stream_pages_to_edges(
                spark,
                read_page_stream(spark, self.pages_dir, max_files_per_trigger=1),
                edges_dir=out["log"], checkpoint_dir=out["ckpt"],
                compact_every=self.COMPACT_EVERY,
            )
            query.awaitTermination()
            out["progress"] = query.recentProgress
        self.tally.ops()
        with tracer.span("storage.snapshots.latest"):
            merged, _ = EdgeLog(spark, out["log"]).latest()
            edges = out["edges"] = self.materialise(merged)
        self.tally.ops()
        pages = spark.read.parquet(self.pages_dir)
        with tracer.span("vectors.embed_pool"):
            page_vecs = pages.select(
                F.xxhash64("url").alias("id"),
                hash_embedding(F.col("text"), dim=self.DIM).alias("embedding"),
            )
            neighbours = edges.select(F.col("src").alias("id"), "dst").join(
                page_vecs.withColumnRenamed("id", "dst"), "dst"
            ).select("id", "embedding")
            vectors = out["vectors"] = self.materialise(
                mean_pool(page_vecs.unionByName(neighbours), ["id"], normalize=True)
            )
        self.tally.ops()
        with tracer.span("storage.serving.build"):
            index_ = PointIndex.build(vectors, "id")
        self.tally.ops()
        with tracer.span("vectors.kmeans"):
            centroids = kmeans_centroids(
                vectors, self.N_CENTROIDS, max_iters=self.KMEANS_ITERS, id_col="id",
            )
        self.tally.ops()
        with tracer.span("vectors.ivf_assign"):
            assigned = self.materialise(ivf_assign(vectors, centroids, id_col="id"))
        self.tally.ops()
        latencies, results = out["latencies"], out["results"] = [], []
        with tracer.span("storage.serving.lookup"):
            clock = time.perf_counter_ns
            for key in self.keys:
                t0 = clock()
                results.append(index_.lookup(key))
                latencies.append(clock() - t0)
        self.tally.ops(len(self.keys))
        with tracer.span("vectors.ivf_topk"):
            out["top"] = ivf_topk(
                IvfIndex(centroids, assigned, id_col="id"), self.queries,
                k=self.TOP_K, nprobe=self.NPROBE,
            ).select("query_id", "id").toPandas()
        self.tally.ops(self.N_QUERIES)
        return out

    def check(self, out):
        """Reference edges from a batch ``build_graph`` on the same pages,
        node vectors pooled in numpy from the page embeddings, the exact
        top-k over the pass's node vectors, and every lookup's row."""
        from plwordnet_spark.graph.build import build_graph

        t = self.tally
        reference = build_graph(self.spark.read.parquet(self.pages_dir)).edges
        self.want_edges = _edge_frame(reference.toPandas())
        got_edges = _edge_frame(out["edges"].toPandas())
        t.check("storage.snapshots", got_edges.equals(self.want_edges),
                detail=f"EdgeLog has {len(got_edges)} edges, build_graph {len(self.want_edges)}")

        vec = out["vectors"].toPandas().sort_values("id")
        self.corpus_ids = vec["id"].to_numpy()
        self.corpus = np.stack(vec["embedding"].to_numpy())
        want = oracles.neighbourhood_mean(
            self.page_ids, self.page_vecs,
            got_edges["src"].to_numpy(), got_edges["dst"].to_numpy(),
        )
        t.check("vectors.embed_pool", np.array_equal(self.corpus_ids, self.page_ids)
                and np.allclose(self.corpus, want, rtol=1e-9, atol=1e-12),
                detail="node vectors differ from the numpy neighbourhood mean")

        rows = {k: i for i, k in enumerate(self.corpus_ids)}
        wrong, hits = 0, 0
        for key, got in zip(self.keys, out["results"]):
            if key in rows:
                hits += 1
                ok = got is not None and got["id"] == key and np.array_equal(
                    np.asarray(got["embedding"]), self.corpus[rows[key]]
                )
            else:
                ok = got is None
            wrong += not ok
        t.check("storage.serving.lookup", wrong == 0, weight=wrong,
                detail=f"{wrong} lookups returned a wrong row")
        recall = self._recall(out["top"], oracles.exact_topk(self.corpus, self.query_vecs,
                                                             self.TOP_K))
        t.check("vectors.ivf_topk", recall >= self.RECALL_FLOOR, weight=self.N_QUERIES,
                detail=f"recall@{self.TOP_K} {recall:.3f} < {self.RECALL_FLOOR}")

        batches = [p["durationMs"]["triggerExecution"] for p in out["progress"]
                   if p["numInputRows"] > 0]
        compacting = batches[self.COMPACT_EVERY - 1::self.COMPACT_EVERY]
        plain = [d for i, d in enumerate(batches, 1) if i % self.COMPACT_EVERY]
        merged = self.path("merged")
        out["edges"].write.parquet(merged)
        _, log_mb = _files(out["log"])
        _, merged_mb = _files(merged, ".parquet")
        files, _ = _files(out["log"], ".parquet")
        return {
            "streaming.ingest": {"micro_batches": len(batches),
                                 "batch_ms_p50": median(plain),
                                 "compaction_batch_ms_p50": median(compacting)},
            "storage.snapshots": {"files": files, "write_amp": log_mb / merged_mb},
            "vectors": {"ivf_recall_at_10": recall},
            "storage.serving": {"lookup_hit_frac": hits / len(self.keys)},
        }

    def _recall(self, top, want_top) -> float:
        """Share of the exact top-k rows the IVF probe returned."""
        found = 0
        for q, want in zip(self.query_ids, want_top):
            got = top.loc[top.query_id == q, "id"].to_numpy()
            found += np.isin(self.corpus_ids[want], got).sum()
        return float(found) / (self.N_QUERIES * self.TOP_K)

    def run_extras(self, tracer, out):
        """The relation-dataset export over domain membership of what was
        ingested."""
        pages = self.spark.read.parquet(self.pages_dir)
        extra = {"export": self.path("dataset")}
        with tracer.span("datasets"):
            nodes = pages.select(
                F.xxhash64("url").alias("id"), "url",
                F.parse_url("url", F.lit("HOST")).alias("domain"),
            )
            extra.update(export_dataset(tracer, self.materialise, out["edges"], nodes,
                                        self.seed, self.MEMBER_SAMPLE, extra["export"]))
        self.tally.ops()
        super().run_extras(tracer, out)
        return extra

    def check_extras(self, extra):
        return {"datasets": check_dataset(self.tally, extra)}

    def fingerprint(self):
        return {
            **_pages_fingerprint(self.pages_df),
            "page_files": len([f for f in os.listdir(self.pages_dir) if f.endswith(".parquet")]),
            "edges": len(self.want_edges),
            "hub_share": _top_share(self.want_edges["dst"].to_numpy()),
            "vectors": len(self.corpus_ids),
            "vectors_hash": _digest(self.corpus_ids, self.corpus),
        }

    def stage_metrics(self, spans, out):
        lat_us = [ns / 1e3 for ns in out["latencies"]]
        return {
            "ingest_pages_per_s": self.N_PAGES / spans["streaming.ingest"].seconds,
            "index_build_s": sum(spans[n].seconds for n in (
                "storage.serving.build", "vectors.kmeans", "vectors.ivf_assign")),
            "lookup_p50_us": percentile(lat_us, 50),
            "lookup_p99_us": percentile(lat_us, 99),
            "topk_queries_per_s": self.N_QUERIES / spans["vectors.ivf_topk"].seconds,
        }


# --------------------------------------------------------------------------
def export_dataset(tracer, materialise, edges, nodes, seed: int, sample: int,
                   path: str) -> dict:
    """Relation dataset over domain membership: synonymy cliques within a
    domain and cross-product expansion over cross-domain links, balanced
    with synthetic negatives, split and priority-deduplicated, written as
    Parquet. ``nodes`` is (id, url, domain); one node in ``sample`` joins
    the membership table, which bounds the quadratic clique expansion."""
    from plwordnet_spark.datasets.balanced import negative_synthesis
    from plwordnet_spark.datasets.relations import (
        expand_group_relations,
        synonymy_cliques,
        union_relation_streams,
    )
    from plwordnet_spark.datasets.split import priority_dedup, train_test_split
    from plwordnet_spark.graph.build import REL_CROSS_DOMAIN

    keys = ["text_parent", "text_child"]
    with tracer.span("datasets.expand"):
        group = nodes.select("id", F.xxhash64("domain").alias("group_id"))
        membership = group.filter(
            F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(sample)) == 0
        ).select(F.col("id").alias("member_id"), "group_id")
        group_rels = (
            edges.filter(F.col("rel_id") == REL_CROSS_DOMAIN)
            .join(group.withColumnRenamed("id", "src")
                  .withColumnRenamed("group_id", "parent_group"), "src")
            .join(group.withColumnRenamed("id", "dst")
                  .withColumnRenamed("group_id", "child_group"), "dst")
            .select("parent_group", "child_group", "rel_id")
            .distinct()
        )
        urls = nodes.select("id", "url")
        positives = materialise(
            union_relation_streams(
                {
                    "synonymy": synonymy_cliques(membership),
                    "domain_link": expand_group_relations(group_rels, membership),
                }
            )
            .join(urls.withColumnRenamed("id", "src")
                  .withColumnRenamed("url", "text_parent"), "src")
            .join(urls.withColumnRenamed("id", "dst")
                  .withColumnRenamed("url", "text_child"), "dst")
            .select(*keys, F.lit(1.0).alias("relation_weight"),
                    F.col("rel_source").alias("relation_name"))
        )
    with tracer.span("datasets.balance"):
        negatives = materialise(
            negative_synthesis(urls.select(F.col("url").alias("text_parent")), positives,
                               seed=seed)
        )
    with tracer.span("datasets.split"):
        cols = [*keys, "relation_weight", "relation_name"]
        rows = positives.select(*cols).unionByName(negatives.select(*cols))
        split = train_test_split(rows, keys, train_ratio=0.9, seed=seed)
        train = split.filter(F.col("split") == "train")
        test = split.filter(F.col("split") == "test")
        kept = priority_dedup(train, test, keys, min_text_len=25, text_cols=keys)
        kept.unionByName(test).write.parquet(path)
    return {"membership": membership, "group_rels": group_rels,
            "positives": positives, "negatives": negatives, "train": train}


def check_dataset(tally, out) -> dict:
    """Untimed checks of :func:`export_dataset`'s output; returns facts."""
    sizes = out["membership"].toPandas().groupby("group_id").size()
    rels = out["group_rels"].toPandas()
    cross = rels["parent_group"].map(sizes).fillna(0) * rels["child_group"].map(sizes).fillna(0)
    expected = int((sizes * (sizes - 1)).sum() + cross.sum())
    positives = out["positives"].toPandas()
    tally.check("datasets.expand", len(positives) == expected,
                detail=f"{len(positives)} rows, expected {expected}")
    negatives = out["negatives"].toPandas()
    pos = set(zip(positives.text_parent, positives.text_child))
    clash = any((a, b) in pos or (b, a) in pos
                for a, b in zip(negatives.text_parent, negatives.text_child))
    tally.check("datasets.balance", not clash and len(negatives) > 0,
                detail="negatives collide with positives")
    exported = pd.read_parquet(out["export"])
    train_in = out["train"].count()
    kept = exported[exported.split == "train"]
    test = exported[exported.split == "test"]
    test_keys = set(zip(test.text_parent, test.text_child))
    ok = (
        not any(k in test_keys for k in zip(kept.text_parent, kept.text_child))
        and bool((kept.text_parent.str.len() >= 25).all())
        and bool((kept.text_child.str.len() >= 25).all())
        and 0 < len(exported) <= len(positives) + len(negatives)
    )
    tally.check("datasets.split", ok, detail="dedup left a test key or a short text in train")
    return {"expand_rows": len(positives), "rows_out": len(exported),
            "dedup_kept_frac": len(kept) / train_in if train_in else 0.0}


def _align(ids: np.ndarray, got_ids: np.ndarray, values: np.ndarray):
    """``values`` reordered to the sorted ``ids``; None unless the result
    has exactly one row per id."""
    order = np.argsort(got_ids)
    if not np.array_equal(got_ids[order], ids):
        return None
    return values[order]


def _edge_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = ["src", "dst", "rel_id", "weight"]
    return pdf[cols].astype({"rel_id": "int64"}).sort_values(cols).reset_index(drop=True)


def _files(root: str, suffix: str = "") -> tuple[int, float]:
    """Files under ``root`` whose names end in ``suffix``, and their size
    in MB."""
    n, size = 0, 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size / 2**20


WORKLOADS = {w.name: w for w in (CrawlPipeline, IngestServe)}
