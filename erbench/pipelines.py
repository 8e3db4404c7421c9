"""The two ER pipelines, written against sparker_spark's public API.

Every call into a library layer goes through :class:`Layers`, which
times it and materializes the layer's output at the boundary: an eager
``localCheckpoint`` for a DataFrame, ``EdgeContext.materialize()`` for
weighted edges. That is how the package's own pipelines hand a relation
to several consumers (``entry.py``, ``curate.py``), and it makes each
call's wall that layer's own work instead of a later layer's lazy
re-execution of the whole lineage. Traced, the call also runs under a
Spark job group named after the layer, and its output rows are counted
under the ``erbench`` job group, which no layer owns.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparker_spark.attribute_clustering import AttributeClustering
from sparker_spark.blocking.blockers import BlockCollection, Blocking
from sparker_spark.blocking.converters import Converters
from sparker_spark.blocking.incremental import IncrementalBlocking
from sparker_spark.blocking.strategies import BlockingKeysStrategies
from sparker_spark.evaluation import ERStats, Evaluation
from sparker_spark.feature_generator import FeatureGenerator
from sparker_spark.filters import BlockFiltering, BlockPurging
from sparker_spark.metablocking.pruning_utils import ComparisonTypes, ThresholdTypes, WeightTypes
from sparker_spark.metablocking.weights import EdgeContext, EdgeWeighting
from sparker_spark.metablocking.wnp import WNP
from sparker_spark.supervised import SupervisedMB
from sparker_spark.wrappers import DataFrameWrapper, ParquetWrapper

LAYERS = (
    "wrappers",
    "strategies",
    "blockers",
    "attribute_clustering",
    "purging",
    "filtering",
    "weights",
    "wnp",
    "feature_generator",
    "supervised",
    "incremental",
    "evaluation",
)
BENCH_GROUP = "erbench"

PURGE_SMOOTH = 1.025
FILTER_R = 0.8
GSMB_SAMPLES_PER_CLASS = 50
GSMB_MAX_ITER = 100
INGEST_MAX_BLOCK = 50


def _comparisons(blocks: BlockCollection) -> int:
    return blocks.meta.groupBy().sum("comparisons").first()[0] or 0


def _force(out):
    """Materialize a layer's output and return the materialized form."""
    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, BlockCollection):
        return BlockCollection(_force(out.assignments), _force(out.meta), out.clean)
    if isinstance(out, EdgeContext):
        return out.materialize()
    if isinstance(out, tuple):
        return tuple(_force(o) for o in out)
    return out  # already eager: lists, ERStats


def _collected(fn):
    return lambda *args: fn(*args).collect()


def _rows(out) -> int:
    if isinstance(out, DataFrame):
        return out.count()
    if isinstance(out, BlockCollection):
        return out.meta.count()
    if isinstance(out, EdgeContext):
        return out.half().count()
    if isinstance(out, tuple):  # block_filtering_quick: the rebuilt blocks
        return _rows(out[-1])
    if isinstance(out, ERStats):
        return out.num_edges
    if isinstance(out, list):  # attribute clusters, collected delta edges
        return len(out)
    return 0  # a fitted model


class Layers:
    """Routes calls into library layers, forces and times them per
    layer; traced, also groups and counts them."""

    def __init__(self, spark: SparkSession, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.tag = ""  # job-description suffix, e.g. the ingest batch
        self.wall = defaultdict(float)
        self.rows = defaultdict(int)
        self.extra: dict[str, float] = {}

    def __call__(self, layer: str, fn, *args, **kwargs):
        if self.traced:
            self.sc.setJobGroup(layer, f"{layer}/{self.tag}" if self.tag else layer)
        t0 = time.perf_counter()
        out = _force(fn(*args, **kwargs))
        self.wall[layer] += time.perf_counter() - t0
        if not self.traced:
            return out
        self.sc.setJobGroup(BENCH_GROUP, BENCH_GROUP)
        self.rows[layer] += _rows(out)
        return out


@dataclass
class Result:
    stats: ERStats
    retained: DataFrame  # (p1, p2, ...) the pipeline's output pairs
    pruned: list  # per pruner: (its retained pairs, the (p1, p2) pairs it chose from)
    gt: DataFrame  # (p1, p2) groundtruth in engine ids


def _groundtruth(spark, path: str, profiles1: DataFrame, profiles2: DataFrame) -> DataFrame:
    raw = DataFrameWrapper.load_groundtruth(spark.read.parquet(path))
    return Converters.convert_groundtruth(raw, profiles1, profiles2)


def _load_clean(spark, L: Layers, inp: dict):
    a = L("wrappers", ParquetWrapper.load_profiles, spark, inp["a"], 0, "id", 0)
    b = L("wrappers", ParquetWrapper.load_profiles, spark, inp["b"], inp["a_rows"], "id", 1)
    gt = L("wrappers", _groundtruth, spark, inp["gt"], a, b)
    return a.unionByName(b), gt


def _purge_filter(L: Layers, blocks: BlockCollection):
    purged = L("purging", BlockPurging.block_purging, blocks, PURGE_SMOOTH)
    _, filtered, rebuilt = L("filtering", BlockFiltering.block_filtering_quick, purged, FILTER_R)
    if L.traced:
        before, mid, after = (_comparisons(x) for x in (blocks, purged, rebuilt))
        L.extra["blockers.comparisons"] = float(before)
        L.extra["purging.comparisons_kept"] = mid / before if before else 0.0
        L.extra["filtering.comparisons_kept"] = after / mid if mid else 0.0
    return filtered, rebuilt


def _weight_prune(L: Layers, rebuilt, filtered, weight_type, use_entropy=False, **prune_kw):
    ctx = L("weights", EdgeWeighting.weighted_edges, rebuilt, filtered, weight_type, use_entropy)
    pruned = L("wnp", WNP.prune, ctx, ThresholdTypes.AVG, ComparisonTypes.OR, **prune_kw)
    if L.traced:
        L.extra["wnp.edges_kept"] = L.rows["wnp"] / L.rows["weights"] if L.rows["weights"] else 0.0
    return pruned, ctx.half().select("p1", "p2")


def _gsmb(L: Layers, rebuilt, gt):
    features = L("feature_generator", FeatureGenerator.generate_features, rebuilt, gt)
    model = L(
        "supervised", SupervisedMB.train_lr, features,
        samples_per_class=GSMB_SAMPLES_PER_CLASS, max_iter=GSMB_MAX_ITER,
    )
    scored = L("supervised", SupervisedMB.score, features, model)
    retained = L("supervised", SupervisedMB.wep, scored)
    if L.traced:
        n_feat = L.rows["feature_generator"]
        L.extra["supervised.edges_kept"] = _rows(retained) / n_feat if n_feat else 0.0
    return retained, features.select("p1", "p2")


def clean_blast_gsmb(spark, L: Layers, inp: dict) -> Result:
    """BLAST's loose-schema blocks, pruned by unsupervised (chi-square
    WNP) and supervised (GSMB) meta-blocking; the output is the pairs
    either pruner keeps."""
    profiles, gt = _load_clean(spark, L, inp)
    clusters = L("attribute_clustering", AttributeClustering.cluster_similar_attributes, profiles)
    blocks = L("blockers", Blocking.create_blocks_clusters, profiles, clusters, clean=True)
    filtered, rebuilt = _purge_filter(L, blocks)
    blast = _weight_prune(
        L, rebuilt, filtered, WeightTypes.CHI_SQUARE, use_entropy=True, chi2divider=2.0
    )
    gsmb = _gsmb(L, rebuilt, gt)
    retained = blast[0].select("p1", "p2").unionByName(gsmb[0].select("p1", "p2")).distinct()
    stats = L("evaluation", Evaluation.get_stats, retained, gt)
    return Result(stats, retained, [blast, gsmb], gt)


class Ingest:
    """State of the dirty_ingest workload. Set-up (untimed) loads the
    index profiles and every not-yet-ingested profile; the index holds
    the postings of all profiles ingested so far, as a union of
    materialized pieces."""

    def __init__(self, spark, inp: dict):
        self.inp = inp
        index = ParquetWrapper.load_profiles(spark, inp["index"], 0, "id")
        self.pieces = [BlockingKeysStrategies.token_blocking(index).localCheckpoint(eager=True)]
        new = ParquetWrapper.load_profiles(spark, inp["new"], inp["index_rows"], "id")
        self.new = new.localCheckpoint(eager=True)
        self.id_maps = [index.select("original_id", "profile_id"), self.new.select("original_id", "profile_id")]

    def batch(self, L: Layers, b: int):
        """Ingest batch ``b``; return (delta edge rows, its postings)."""
        L.tag = f"batch{b:02d}"
        profiles = self.new.where(F.col("original_id").isin(self.inp["batch_ids"][b]))
        # the postings are appended to the index; the delta edges are collected
        keys = L("strategies", BlockingKeysStrategies.token_blocking, profiles)
        old = reduce(DataFrame.unionByName, self.pieces)
        rows = L("incremental", _collected(IncrementalBlocking.delta_cbs_edges), old, keys, INGEST_MAX_BLOCK)
        self.pieces.append(keys)
        L.tag = ""
        return rows, keys
