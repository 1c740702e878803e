"""The traced batch pass: kgx's stage graph timed layer by layer.

`kg_pass` calls the layers' public functions in the order
`kgx.job.run_pipeline` uses for its extract → triples → nodes stages,
writes the same outputs, stage markers and lineage rows, and leaves out
only the analytics stage (its entity-degree rollup is inline code in
job.py, not a layer function). Each call is wrapped in a span and its
output is persisted and counted at the layer boundary, so the next span
times only its own layer. The harness's own counts run after a span
closes, on the persisted frames. End-to-end numbers never come from this
pass.
"""

from __future__ import annotations

import contextlib
import os
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kgx import (
    aggregate,
    assemble,
    canonical,
    lineage,
    linking,
    materialize,
    mentions,
    relations,
    resources,
)

class Tracer:
    """Spans (name, start, end, parent, trace id) and counts, kept in
    memory and handed out once at the end."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "trace_id": self.trace_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def force(self, df: DataFrame, count_key: str) -> DataFrame:
        """Materialize `df` at a layer boundary; returns the cached frame."""
        df = df.persist()
        self.counts[count_key] = float(df.count())
        return df

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its child spans
        cover (children never overlap, the pass is sequential)."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            child = sum(
                c["end"] - c["start"]
                for c in self.spans[i + 1 :]
                if c["parent"] == s["name"] and s["start"] <= c["start"] and c["end"] <= s["end"]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child
        return out


def kg_pass(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    kb: resources.KnowledgeBase,
    tracer: Tracer,
) -> dict[str, str]:
    """Run the traced pass into `out_dir` (which must not hold a previous
    pass); returns {output: path}."""
    tr = tracer
    paths = {
        k: os.path.join(out_dir, k)
        for k in (
            "facts", "turn_feats", "mentions", "phrase_edges", "doc_meta", "carryover",
            "triples", "indicator_nodes", "results", "nodes", "lineage",
        )
    }
    with tr.span("pass"):
        # -- extract: assemble + mentions + relations ----------------------
        with lineage.StageTimer() as t:
            with tr.span("assemble.admit"):
                turns = tr.force(assemble.admit_turns(transcripts), "assemble.turns_out")
            # built again inside facts_from_turn_features; timed here alone
            with tr.span("linking.dims"):
                tr.force(linking.gazetteer_dim(spark, kb), "linking.gazetteer_rows").unpersist()
            with tr.span("mentions.summary"):
                tf_raw = tr.force(mentions.extract_turn_features(turns, kb), "mentions.turns")
            tr.counts["mentions.hit_turns"] = float(
                tf_raw.filter(
                    (F.size("so_mentions") + F.size("ind_mentions") > 0)
                    | F.col("feature_surface").isNotNull()
                ).count()
            )
            with tr.span("relations.facts"):
                facts, tf = relations.facts_from_turn_features(tf_raw, kb)
                facts = tr.force(facts, "relations.facts_out")
            with tr.span("materialize.write"):
                facts.write.mode("overwrite").partitionBy("ts_day").parquet(paths["facts"])
                tf.select(
                    "conv_id", "turn_idx", "ts_day", "pos_cnt", "neg_cnt", "has_so"
                ).write.mode("overwrite").partitionBy("ts_day").parquet(paths["turn_feats"])
            with tr.span("mentions.evidence"):
                wm = tr.force(mentions.detect_mentions(turns, kb), "mentions.evidence_turns")
                ev = tr.force(materialize.mention_evidence(wm), "mentions.evidence_rows")
            with tr.span("materialize.write"):
                materialize.write_mentions(ev, paths["mentions"])
                pe = materialize.phrase_fact_edges(facts, wm, kb)
                pe.write.mode("overwrite").partitionBy("ts_day").parquet(paths["phrase_edges"])
                for cached in getattr(pe, "_kgx_persisted", []):
                    cached.unpersist()
                materialize.document_meta(turns).write.mode("overwrite").parquet(paths["doc_meta"])
            with tr.span("mentions.carryover"):
                so = wm.select("conv_id", "turn_idx", mentions.so_set_col().alias("so_set"))
                mentions.carryover_from_so(so).write.mode("overwrite").parquet(paths["carryover"])
            for cached in [turns, tf_raw, facts, wm, ev] + getattr(facts, "_kgx_persisted", []):
                cached.unpersist()
        _record(
            spark, tr, paths, "extract", t.wall_ms, kb,
            ("facts", "turn_feats", "mentions", "phrase_edges", "doc_meta", "carryover"),
        )

        # -- triples: validity gate + aggregate ----------------------------
        with lineage.StageTimer() as t:
            facts = spark.read.parquet(paths["facts"])
            turn_feats = spark.read.parquet(paths["turn_feats"])
            with tr.span("relations.gate"):
                bad = relations.invalid_convs(facts)
                if bad.count():
                    facts = facts.join(F.broadcast(bad), "conv_id", "left_anti")
                    turn_feats = turn_feats.join(F.broadcast(bad), "conv_id", "left_anti")
            with tr.span("aggregate.triples"):
                triples = tr.force(
                    aggregate.all_triples(facts, turn_feats), "aggregate.triples_out"
                )
            with tr.span("materialize.write"):
                materialize.write_triples(triples, paths["triples"])
                materialize.indicator_nodes(
                    facts, linking.indicators_dim(spark, kb)
                ).write.mode("overwrite").parquet(paths["indicator_nodes"])
                materialize.result_docs(triples).write.mode("overwrite").partitionBy(
                    "ts_day"
                ).parquet(paths["results"])
            triples.unpersist()
        _record(spark, tr, paths, "triples", t.wall_ms, kb, ("triples", "indicator_nodes", "results"))

        # -- nodes: canonicalization ---------------------------------------
        with lineage.StageTimer() as t:
            triples = spark.read.parquet(paths["triples"])
            with tr.span("canonical.canonicalize"):
                nodes = tr.force(canonical.canonicalize(triples), "canonical.nodes_out")
            with tr.span("materialize.write"):
                materialize.write_nodes(nodes, paths["nodes"])
        _record(spark, tr, paths, "nodes", t.wall_ms, kb, ("nodes",))
    # outside every span: the node count before merging and the components
    tr.counts["canonical.nodes_in"] = float(canonical.build_nodes(triples).count())
    tr.counts["canonical.components"] = float(nodes.select("canonical_id").distinct().count())
    nodes.unpersist()
    return paths


def _record(spark, tr: Tracer, paths: dict, stage: str, wall_ms: int, kb, outputs) -> None:
    """Stage markers and lineage rows, as run_pipeline writes them."""
    with tr.span("lineage.record"):
        for out in outputs:
            lineage.mark_stage_ok(paths[out], {"run_id": tr.trace_id})
        lineage.append_lineage(
            spark, paths["lineage"], tr.trace_id, stage, None, None, wall_ms,
            kb_version=kb.version(),
        )
        lineage.append_partition_lineage(
            spark, paths["lineage"], tr.trace_id, stage, paths[outputs[0]],
            kb_version=kb.version(),
        )


def stage_walls(spark: SparkSession, out_dir: str, run_id: str) -> dict[str, float]:
    """{stage: wall seconds} from a pass's lineage table (stage rows only;
    partition rows carry no wall time)."""
    rows = (
        spark.read.parquet(os.path.join(out_dir, "lineage"))
        .filter((F.col("run_id") == run_id) & F.col("wall_ms").isNotNull())
        .select("stage", "wall_ms")
        .collect()
    )
    return {r["stage"]: r["wall_ms"] / 1000.0 for r in rows}


def output_bytes(out_dir: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files a pass wrote."""
    size = files = 0
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files
