"""Workload definitions and the passes the benchmark times.

``kg_build`` is the flagship job: documents in, KG committed to a fresh
``CheckpointedSink``.  Its input is the seeded generated documents plus
the pinned sf0.01 fixture documents, whose committed triples must equal
the golden triples.  ``leaf_mix`` runs registry leaves of three plan
shapes (set-overlap pair counting, driver-side fixpoint loops, light
per-row scans); each leaf's output is collected to the driver, so every
column of every row is materialized, and then checked against its
DuckDB oracle.  Both are closed loops with one client: a pass starts
only after the previous pass's output is fully materialized.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (module label, registry leaf, plan shape)
LEAVES = [
    ("dedup", "dedup_ngram_jaccard", "pair"),
    ("codekg", "kg_coedit_edges", "pair"),
    ("graph", "kg_wl_labels", "fixpoint"),
    ("cluster", "dedup_components", "fixpoint"),
    ("textqc", "qc_readability", "scan"),
    ("profile", "qc_profile_documents", "scan"),
    ("similarity", "ann_range_search", "scan"),
    ("codeqc", "qc_halstead_metrics", "scan"),
    ("queries", "qc_quality_score", "scan"),
]

# rows per generated table; "tiny" is the self-test size
SIZES = {
    "kg_build": {
        "full": {"documents": 500},
        "tiny": {"documents": 60},
    },
    "leaf_mix": {
        "full": {"documents": 1000, "embeddings": 400, "events": 20000,
                 "lineitem": 60000, "part": 4000},
        "tiny": {"documents": 120, "embeddings": 100, "events": 1000,
                 "lineitem": 3000, "part": 200},
    },
}

# Workloads that run one untimed warm-up pass over their inputs in
# set-up.  The leaf mix is hundreds of small jobs, so its first pass in a
# fresh JVM is mostly JIT compilation of the planner, the scheduler and
# the generated code, which stretches by a different factor each time
# the host is busy; its passes are timed warm.  The warm-up runs over
# the full inputs: after one over smaller inputs, the next full pass
# still spread three times as much from run to run.  The flagship's
# first pass is mostly Python-UDF work and is timed cold, as one
# submission of the job.
WARM = {"leaf_mix"}

WHY = {
    "kg_build": "the paper's job: seeded docs plus the sf0.01 golden docs "
                "through run_pipeline into a CheckpointedSink; Python UDF, "
                "sieve, persist and sink layers; no pair or fixpoint work",
    "leaf_mix": "registry leaves of three plan shapes (set-overlap pairs, "
                "driver-side fixpoint loops, light scans) on seeded "
                "tables, timed after a warm-up pass; no pipeline stage runs",
}

WORKLOADS = sorted(SIZES)


# ------------------------------------------------------------- kg_build

HERE = os.path.dirname(os.path.abspath(__file__))
# the registry's kg_pipeline_triples input at sf0.01, and its pinned
# pipeline output
FIXTURE_DIR = os.path.join(HERE, "fixtures", "sf0.01")
GOLDEN = os.path.join(os.path.dirname(HERE), "tests", "golden",
                      "kg_triples_sf0.01.parquet")


def kg_input(spark, data_dir: str) -> DataFrame:
    """Generated documents followed by the fixture documents."""
    return kg_documents(spark, data_dir).unionByName(
        kg_documents(spark, FIXTURE_DIR))


def kg_documents(spark, data_dir: str) -> DataFrame:
    """The flagship's input shape (repo, path, commit, lang, content),
    built from the documents table the same way the registry's
    ``kg_pipeline_triples`` leaf builds it."""
    return spark.read.parquet(f"{data_dir}/documents.parquet").select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("path"),
        F.sha2(F.col("doc_id").cast("string"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"))


def kg_pass(spark, data_dir: str, sink_dir: str):
    """One flagship pass: run_pipeline (neural + abbreviation on) and
    commit annotations, triples, quarantine and processed_docs."""
    from bern2_spark import corpus
    from bern2_spark.pipeline import run_pipeline
    from bern2_spark.sources.sink import CheckpointedSink, write_outputs
    shutil.rmtree(sink_dir, ignore_errors=True)
    sink = CheckpointedSink(sink_dir)
    with run_pipeline(kg_input(spark, data_dir),
                      corpus.DRIVER_VOCAB_LEXICON, spark) as res:
        write_outputs(sink, res.annotations, res.triples, docs=res.docs,
                      quarantine=res.quarantine)
        return sink, cached_mb(spark)


def cached_mb(spark) -> float:
    """MB held by persisted RDDs (memory + disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def committed_triples(sink) -> int:
    with open(sink.manifest_path("triples")) as f:
        return sum(r["rows"] or 0 for r in json.load(f)["runs"])


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) under a sink directory, metadata excluded."""
    size, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or n.endswith(".json"):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size / 1e6, files


def kg_staged(spark, data_dir: str, sink_dir: str, tracer) -> tuple:
    """The flagship stage by stage, in run_pipeline's order, through the
    pipeline's public stage functions.  Each stage reads a persisted
    copy of its input and its output is materialized before the next
    stage starts.  Returns (per-stage counts, committed sink); the
    stage times are the tracer's spans."""
    from pyspark import StorageLevel
    from bern2_spark import corpus
    from bern2_spark.corpus import TAG_ONLY
    from bern2_spark.operators.abbrev import (abbreviation_table,
                                              apply_abbreviation_level)
    from bern2_spark.operators.canonicalize import (resolve_overlap,
                                                    union_mutations)
    from bern2_spark.operators.filters import filter_species_human
    from bern2_spark.operators.mutations import detect_mutations
    from bern2_spark.operators.neural import neural_normalize
    from bern2_spark.operators.normalize import (build_lookup_tables,
                                                 normalize_mentions)
    from bern2_spark.operators.postprocess import to_annotations, to_triples
    from bern2_spark.operators.preprocess import preprocess, quarantine
    from bern2_spark.operators.tagging import extract_mentions
    from bern2_spark.sources.sink import CheckpointedSink, write_outputs

    lex = corpus.DRIVER_VOCAB_LEXICON
    norm_rows = [r for r in lex if r[1] != TAG_ONLY]
    lexicon_df = spark.createDataFrame(
        norm_rows, "ent_type string, cui string, name string")
    held: list = []

    def keep(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        return df, df.count()

    def linked(df) -> int:
        return df.filter(F.col("cui") != "CUI-less").count()

    docs, _ = keep(kg_input(spark, data_dir).repartition(
        spark.sparkContext.defaultParallelism))
    c: dict = {}
    with tracer.span("preprocess"):
        pre, c["preprocess.rows_out"] = keep(preprocess(docs))
        c["preprocess.quarantined"] = quarantine(pre).count()
    with tracer.span("tagging"):
        ner, c["tagging.mentions_out"] = keep(filter_species_human(
            extract_mentions(pre, lex)))
    with tracer.span("mutations"):
        muts, c["mutations.mentions_out"] = keep(detect_mutations(pre))
    with tracer.span("normalize"):
        lut = build_lookup_tables(lexicon_df)
        norm, n = keep(normalize_mentions(ner, lexicon_df, lut=lut))
        linked_norm = linked(norm)
        c["normalize.linked_ratio"] = linked_norm / max(n, 1)
    with tracer.span("abbrev"):
        abbr, n = keep(apply_abbreviation_level(
            norm, lexicon_df, abbreviation_table(pre),
            track_persisted=held, lut=lut))
        linked_abbr = linked(abbr)
        c["abbrev.recovered"] = linked_abbr - linked_norm
    with tracer.span("neural"):
        c["neural.surfaces"] = (abbr.filter(F.col("cui") == "CUI-less")
                                .select("mention").distinct().count())
        neu, n = keep(neural_normalize(abbr, norm_rows))
        c["neural.linked_ratio"] = linked(neu) / max(n, 1)
    with tracer.span("canonicalize"):
        mut_norm = (muts
                    .withColumn("cui", F.coalesce(
                        F.element_at(F.split("normalized_name", ";"), 1),
                        F.lit("CUI-less")))
                    .withColumn("is_neural_normalized", F.lit(False)))
        c["canonicalize.rows_in"] = n + c["mutations.mentions_out"]
        canon, c["canonicalize.rows_out"] = keep(
            union_mutations(resolve_overlap(neu), mut_norm))
    with tracer.span("postprocess"):
        ann, _ = keep(to_annotations(canon))
        tri, c["postprocess.triples_out"] = keep(to_triples(ann))
    with tracer.span("sink"):
        shutil.rmtree(sink_dir, ignore_errors=True)
        sink = CheckpointedSink(sink_dir)
        write_outputs(sink, ann, tri, docs=pre, quarantine=quarantine(pre))
    c["sink.mb_written"], c["sink.files"] = dir_stats(sink_dir)
    for df in held:
        df.unpersist()
    return c, sink
