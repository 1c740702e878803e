"""The traced driver must produce exactly run_pipeline's triples, so the
per-layer trace cannot drift from kgx/job.py."""

import os

import checks
import kbgen
import kgpass
from kgx import job, resources


def test_traced_pass_matches_run_pipeline(spark, tmp_path):
    kb = kbgen.big_kb(600, seed=3)  # over the Aho-Corasick threshold
    inp = tmp_path / "in"
    kbgen.write_corpus(kb, str(inp), n_convs=24, n_files=2, seed=3)
    df = spark.read.parquet(str(inp))

    job.run_pipeline(spark, df, str(tmp_path / "ref"), kb=kb, resume=False, run_id="r")
    tracer = kgpass.Tracer("t")
    kgpass.kg_pass(spark, df, str(tmp_path / "traced"), kb, tracer)

    def keys(d):
        return checks.semantic_keys(checks.read_triples(str(tmp_path / d / "triples")))

    ref = keys("ref")
    assert sum(len(v) for v in ref.values()) > 50
    assert keys("traced") == ref
    for out in ("nodes", "mentions", "phrase_edges", "doc_meta", "carryover",
                "indicator_nodes", "results"):
        assert checks.count_rows(str(tmp_path / "traced" / out)) == checks.count_rows(
            str(tmp_path / "ref" / out)
        )

    names = {s["name"] for s in tracer.spans}
    assert {"pass", "assemble.admit", "linking.dims", "mentions.summary",
            "mentions.evidence", "mentions.carryover", "relations.facts",
            "aggregate.triples", "canonical.canonicalize", "materialize.write",
            "lineage.record"} <= names
    for out in ("facts", "triples", "nodes", "carryover"):
        assert os.path.exists(str(tmp_path / "traced" / out / "_KGX_STAGE_OK"))
    assert {s["trace_id"] for s in tracer.spans} == {"t"}
    self_s = tracer.self_times()
    total = [s for s in tracer.spans if s["name"] == "pass"][0]
    assert abs(sum(self_s.values()) - (total["end"] - total["start"])) < 1e-6
    assert tracer.counts["aggregate.triples_out"] == checks.count_rows(
        str(tmp_path / "traced" / "triples")
    )
    assert tracer.counts["canonical.nodes_in"] >= tracer.counts["canonical.components"] > 0
    stages = {"extract", "triples", "nodes"}
    assert set(kgpass.stage_walls(spark, str(tmp_path / "traced"), "t")) == stages
    assert set(kgpass.stage_walls(spark, str(tmp_path / "ref"), "r")) == stages | {"analytics"}


def test_stream_generator_schema_matches_transcripts(spark, tmp_path):
    """Files the generator writes load under kgx.schema.TRANSCRIPTS: the
    microsecond timestamp and the typed-null tool column."""
    from kgx import schema

    t = kbgen.conversations(resources.default_kb(), 3, seed=1)
    path = os.path.join(tmp_path, "x.parquet")
    kbgen.write_parquet(t, path)
    assert not any(n.startswith(".") for n in os.listdir(tmp_path))
    rows = spark.read.schema(schema.TRANSCRIPTS).parquet(path).collect()
    assert len(rows) == 3 * kbgen.TURNS_PER_CONV
    assert all(r["tool"] is None and r["ts"] is not None for r in rows)
