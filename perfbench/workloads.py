"""The benchmark's workloads (timed, closed loop) and the traced layer walk.

Both workloads run one operation at a time against the package's public
entry points and gate every output against an oracle:

* ``batch_build``   — a fresh ``build_graph`` over the seeded corpus,
  gated against the frozen reference extractor.
* ``registry_text`` — the dedup, similarity and text-hashing registry
  keys over seeded documents and embeddings, each gated against its
  DuckDB oracle.

The layer walk (``--trace 1``) calls each layer's public function from
here, forces its output, and records one span per call.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import inputs
from metrics import INCREMENTAL_PHASES, REGISTRY_KEYS
from spans import Tracer

from pysql2neo4j_spark.oracle_extractor import alias_to_canonical
from pysql2neo4j_spark.plans.pipeline import PipelineConfig


@dataclass
class Gates:
    """Counts gated operations; every miss is a failure."""
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.append(f"{label}: " + "; ".join(problems))


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    cfg: PipelineConfig
    gates: Gates
    corpus: inputs.Corpus | None = None
    oracle_edges: Counter = field(default_factory=Counter)
    oracle_entities: set[str] = field(default_factory=set)
    registry: inputs.Registry | None = None

    @property
    def n_turns(self) -> int:
        return len(self.corpus.transcripts)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, "runs", name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def graph_problems(nodes: DataFrame, edges: DataFrame, want_edges: Counter, want_entities: set[str]) -> list[str]:
    """Exact comparison of a published graph with the oracle: the edge
    set (P = R = 1), n_obs per edge, and the node set. Entity ids are the
    min norm of each linked component; they are mapped to the oracle's
    representative (the min norm over all gazetteer aliases), and no two
    ids may map to one entity (a split entity)."""
    a2c = alias_to_canonical()
    problems = []
    ids = [r.entity_id for r in nodes.select("entity_id").collect()]
    got_nodes = {a2c.get(i) for i in ids}
    if len(got_nodes) != len(ids):
        problems.append(f"{len(ids) - len(got_nodes)} split or duplicate nodes")
    if got_nodes != want_entities:
        problems.append(f"nodes: {len(want_entities - got_nodes)} missing, "
                        f"{len(got_nodes - want_entities)} unexpected")
    got: Counter = Counter()
    rows = edges.select("src_entity", "pred", "dst_entity", "n_obs").collect()
    for r in rows:
        got[(a2c.get(r.src_entity), r.pred, a2c.get(r.dst_entity))] += r.n_obs
    if len(got) != len(rows):
        problems.append(f"{len(rows) - len(got)} duplicate edge rows")
    missing, extra = set(want_edges) - set(got), set(got) - set(want_edges)
    if missing or extra:
        problems.append(f"edges: {len(missing)} missing, {len(extra)} unexpected")
    wrong = [k for k in set(got) & set(want_edges) if got[k] != want_edges[k]]
    if wrong:
        problems.append(f"n_obs differs on {len(wrong)} edges")
    if sum(got.values()) != sum(want_edges.values()):
        problems.append(f"sum(n_obs) {sum(got.values())} != oracle triples {sum(want_edges.values())}")
    return problems


def run_registry_key(ctx: Ctx, key: str, label: str) -> float:
    """Run one registry key to completion, collecting its (small) result
    to the driver inside the timed call, then gate it against the key's
    DuckDB oracle: same row count and order-independent checksum."""
    from pysql2neo4j_spark.entry_queries import QUERIES

    t0 = time.perf_counter()
    df = QUERIES[key](ctx.spark, ctx.registry.path)
    rows = df.collect()
    sec = time.perf_counter() - t0
    got = inputs.result_digest(df.columns, rows)
    want = ctx.registry.want[key]
    ctx.gates.check(f"registry_text/{label}/{key}",
                    [] if got == want else [f"rows/checksum {got} != oracle {want}"])
    return sec


# ------------------------------------------------------------ workloads

class BatchBuild:
    """One iteration = one fresh ``build_graph`` over the corpus; the
    warm-up is one untimed build."""

    name = "batch_build"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        self.run_once("warmup")

    def run_once(self, label: str) -> dict:
        from pysql2neo4j_spark.plans.pipeline import build_graph
        from pysql2neo4j_spark.sources.transcripts import read_transcripts

        ctx = self.ctx
        out = ctx.fresh_dir("build")
        t0 = time.perf_counter()
        res = build_graph(ctx.spark, read_transcripts(ctx.spark, ctx.corpus.path), out, ctx.cfg)
        wall = time.perf_counter() - t0
        ctx.gates.check(f"{self.name}/{label}",
                        graph_problems(res["nodes"], res["edges"], ctx.oracle_edges, ctx.oracle_entities))
        shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall, "rows": ctx.n_turns}

    # spans of the layer walk that together make up one build
    op_spans = ("pipeline.extract_stage", "pipeline.read_ir", "linking.link", "components.cc",
                "graph.edges", "graph.nodes", "sources.write_nodes", "sources.write_edges")


class RegistryText:
    """One iteration = one pass over the registry keys in turn; the
    warm-up is one untimed pass."""

    name = "registry_text"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        self.run_once("warmup")

    def run_once(self, label: str) -> dict:
        keys = {key: run_registry_key(self.ctx, key, label) for key in REGISTRY_KEYS}
        return {"wall_s": sum(keys.values()), "rows": self.ctx.registry.rows_read, "keys_s": keys}

    op_spans = tuple(f"registry.{key}" for key in REGISTRY_KEYS)


BY_NAME = {w.name: w for w in (BatchBuild, RegistryText)}


# ------------------------------------------------------------ layer walk

def _count(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def core_rows_per_s(transcripts) -> float:
    """The extraction kernel's core (sentence split + relation and
    mention matching) in this process, no Spark — the same loop
    ``BENCH/hw_ceiling.py`` times per core — repeated for at least a
    second."""
    from pysql2neo4j_spark.operators.extraction import _match_mention_only, _match_relations, _sentences

    batch = transcripts[["conv_id", "turn_idx", "role", "tool", "ts", "text"]]
    rows, t0 = 0, time.perf_counter()
    while True:
        sents = _sentences(batch)
        _, claimed = _match_relations(sents)
        _match_mention_only(sents, claimed)
        rows += len(batch)
        dt = time.perf_counter() - t0
        if dt >= 1.0:
            return rows / dt


def layer_walk(ctx: Ctx, tr: Tracer) -> dict[str, float]:
    """Call each layer's public function in pipeline order, forcing
    every output, one span per call: the batch build's layers, a full
    finalize of the walk's store, one append and its delta finalize
    (both gated against the oracle), then the registry keys. Returns the
    per-layer values that are not span durations."""
    from pysql2neo4j_spark.operators.components import canonical_entities
    from pysql2neo4j_spark.operators.extraction import extract_all_flat
    from pysql2neo4j_spark.operators.graph import build_edges, nodes_from_surface_stats
    from pysql2neo4j_spark.operators.linking import candidate_pairs, link_candidates
    from pysql2neo4j_spark.plans.checkpoint import CheckpointManager, input_partition_fingerprints, with_part_key
    from pysql2neo4j_spark.plans.incremental import finalize_graph
    from pysql2neo4j_spark.plans.pipeline import extract_stage, read_committed_ir
    from pysql2neo4j_spark.sources.transcripts import read_transcripts, write_bucketed

    spark, cfg, v = ctx.spark, ctx.cfg, {}
    out = ctx.fresh_dir("walk")
    with tr.span("walk"):
        with tr.span("sources.scan"):
            noop(read_transcripts(spark, ctx.corpus.path))
        with tr.span("extraction.kernel"):
            staged, obs = _count(extract_all_flat(read_transcripts(spark, ctx.corpus.path)))
            noop(staged)
        v["extraction.rows_out"] = obs.get["n"]
        with tr.span("checkpoint.lineage"):
            t = with_part_key(read_transcripts(spark, ctx.corpus.path), cfg.n_buckets)
            input_partition_fingerprints(t.select("part_key", "conv_id", "turn_idx", "text")).collect()
        with tr.span("pipeline.extract_stage"):
            extract_stage(spark, read_transcripts(spark, ctx.corpus.path), out, cfg, resume=False)
        v["checkpoint.staged_bytes_per_turn"] = _dir_stats(os.path.join(out, "extracted"))[1] / ctx.n_turns
        with tr.span("checkpoint.manifest_read"):
            CheckpointManager(out).committed_run_dirs(spark, "extract")
        with tr.span("pipeline.read_ir"):
            mentions, triples = read_committed_ir(spark, out, cfg)
            mentions, triples = mentions.localCheckpoint(eager=True), triples.localCheckpoint(eager=True)
        with tr.span("linking.link"):
            forms, form_edges, surf = link_candidates(
                mentions, bands=cfg.bands, rows=cfg.rows, max_block=cfg.max_block, threshold=cfg.threshold)
            form_edges = form_edges.localCheckpoint(eager=True)
        v["linking.forms"] = forms.count()
        with tr.span("bench.candidate_count"):  # not a pipeline step: counts the pairs link scored
            v["linking.candidate_pairs"] = candidate_pairs(forms, cfg.bands, cfg.rows, cfg.max_block).count()
        v["linking.kept_ratio"] = form_edges.count() / max(v["linking.candidate_pairs"], 1)
        with tr.span("components.cc"):
            f2e = canonical_entities(forms, form_edges, n_partitions=cfg.cc_partitions).localCheckpoint(eager=True)
        v["components.entities"] = f2e.select("entity_id").distinct().count()
        with tr.span("graph.edges"):
            edges = build_edges(triples, f2e, n_salts=cfg.n_salts).localCheckpoint(eager=True)
        v["graph.triples_in"] = triples.count()
        v["graph.edges_out"] = edges.count()
        with tr.span("graph.nodes"):
            per_surface = surf.join(F.broadcast(f2e), on="norm").select("entity_id", "surface", "norm", "n")
            nodes = nodes_from_surface_stats(per_surface).localCheckpoint(eager=True)
        with tr.span("sources.write_nodes"):
            write_bucketed(nodes, os.path.join(out, "nodes"), "entity_id", n_buckets=cfg.n_entity_buckets)
        with tr.span("sources.write_edges"):
            write_bucketed(edges, os.path.join(out, "edges"), "src_entity", n_buckets=cfg.n_entity_buckets)
        files, size = (sum(x) for x in zip(_dir_stats(os.path.join(out, "nodes")),
                                           _dir_stats(os.path.join(out, "edges"))))
        v["sources.files_written"], v["sources.bytes_written"] = files, size
        v["extraction.core_rows_per_s"] = core_rows_per_s(ctx.corpus.transcripts)

        with tr.span("setup.finalize_full"):
            res = finalize_graph(spark, out, cfg, stage="extract")
        problems = graph_problems(res["nodes"], res["edges"], ctx.oracle_edges, ctx.oracle_entities)
        if res["metrics"]["mode"] != "full":
            problems.append(f"mode {res['metrics']['mode']!r} != 'full'")
        ctx.gates.check("walk/finalize_full", problems)
        with tr.span("pipeline.append_extract"):
            extract_stage(spark, read_transcripts(spark, ctx.corpus.append_path), out, cfg, resume=False)
        with tr.span("incremental.finalize"):
            res = finalize_graph(spark, out, cfg, stage="extract")
        m = res["metrics"]
        problems = graph_problems(res["nodes"], res["edges"], ctx.oracle_edges + inputs.graph_oracle(ctx.corpus.append)[0],
                                  ctx.oracle_entities)
        if m["mode"] != "incremental":
            problems.append(f"mode {m['mode']!r} != 'incremental'")
        ctx.gates.check("walk/append", problems)
        v["incremental.ir_rows_read"] = m["ir_mention_rows_read"] + m["ir_triple_rows_read"]
        for phase in INCREMENTAL_PHASES:
            v[f"incremental.phase.{phase}_s"] = m["timings"][phase]

        for key in REGISTRY_KEYS:
            with tr.span(f"registry.{key}"):
                run_registry_key(ctx, key, "walk")
    return v
