"""Graph materialization with per-stage lineage manifests and exact resume.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Each pipeline stage writes:

  out_dir/<stage>/                  parquet (partitioned stages nest their
                                    files under <col>=<value>/ directories)
  out_dir/<stage>._lineage.json     stage manifest

Manifest fields:

  fingerprint  hash of the stage config and its upstream fingerprint
  rows         rows written, counted by an Observation on the write job
               and checked against the sum of the file footers; a mismatch
               raises instead of writing the manifest
  partitions   one entry per output parquet file: {"file": path relative
               to the stage directory, "rows": the footer's row count}
  schema       the written schema as Spark JSON: every field nullable,
               partition columns last (what Spark infers when reading the
               files); the stage is read back with it
  written_at   unix time of the commit

A stage's old manifest is deleted before its parquet is overwritten, and
the new one is written to a temp file and moved into place with
os.replace, so a build that fails mid-stage leaves either no manifest or
one that describes the files on disk.

A stage commits in its write job alone: the row counts come from the
Observation and the footers (read on the driver through pyarrow, no Spark
job), and every later read uses the manifest schema, so no
schema-inference job runs either. A stage re-runs only when its
fingerprint (config + upstream fingerprint) changes; otherwise the parquet
is reused as-is (exact resume — contents are deterministic given the
fingerprint). Resume reads only `fingerprint` and `schema`, so manifests
whose `partitions` hold per-`spark_partition_id` counts still resume.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target


def _fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, f"{stage}._lineage.json")


def read_manifest(out_dir: str, stage: str):
    p = _manifest_path(out_dir, stage)
    if os.path.exists(p):
        with open(p, encoding="utf-8") as f:
            return json.load(f)
    return None


def _write_json(path: str, obj) -> None:
    """Replace path with obj as JSON through a temp file and os.replace,
    so a reader finds the old file or the new one, never a partial one."""
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _nullable(t):
    """A Spark JSON data type with every struct field, array element and map
    value nullable, as parquet stores them."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [{**f, "type": _nullable(f["type"]), "nullable": True}
                                for f in t["fields"]]}
    if t["type"] == "array":
        return {**t, "elementType": _nullable(t["elementType"]), "containsNull": True}
    if t["type"] == "map":
        return {**t, "keyType": _nullable(t["keyType"]), "valueType": _nullable(t["valueType"]),
                "valueContainsNull": True}
    return t


def _written_schema(df: DataFrame, partition_by) -> dict:
    """The schema a read of the written files infers: all fields nullable,
    partition columns moved last."""
    partition_by = list(partition_by or ())
    fields = _nullable(df.schema.jsonValue())["fields"]
    part = [f for c in partition_by for f in fields if f["name"] == c]
    rest = [f for f in fields if f["name"] not in partition_by]
    return {"type": "struct", "fields": rest + part}


def _hidden(name: str) -> bool:
    """Spark's rule for paths a parquet read skips (_SUCCESS, .crc files)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _file_rows(path: str) -> list:
    """[{"file", "rows"}] for every data file under a stage directory, from
    the parquet footers, read on the driver."""
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, root = pafs.FileSystem.from_uri(path if urlparse(path).scheme else os.path.abspath(path))
    files = []
    for info in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        rel = info.path[len(root):].lstrip("/")
        if info.type != pafs.FileType.File or any(map(_hidden, rel.split("/"))):
            continue
        with fs.open_input_file(info.path) as f:
            files.append({"file": rel, "rows": pq.read_metadata(f).num_rows})
    return sorted(files, key=lambda e: e["file"])


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    fingerprint: str,
    partition_by: list | None = None,
) -> dict:
    """Write a stage's parquet + lineage manifest in one Spark job (the
    write); returns the manifest. Raises if the rows the write job counted
    differ from the rows in the written files' footers."""
    path = stage_path(out_dir, stage)
    # the overwrite below invalidates the old manifest; remove it first so
    # that a failure before the new one is written leaves no manifest, not
    # one whose fingerprint vouches for files that are no longer there
    with contextlib.suppress(FileNotFoundError):
        os.remove(_manifest_path(out_dir, stage))
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

    rows = int(obs.get["rows"])
    files = _file_rows(path)
    in_files = sum(e["rows"] for e in files)
    if rows != in_files:
        raise RuntimeError(
            f"stage {stage!r}: the write counted {rows} rows but the footers "
            f"of {len(files)} files under {path} hold {in_files}"
        )
    manifest = {
        "stage": stage,
        "fingerprint": fingerprint,
        "rows": rows,
        "partitions": files,
        "written_at": time.time(),
        "schema": _written_schema(df, partition_by),
    }
    _write_json(_manifest_path(out_dir, stage), manifest)
    return manifest


def run_stage(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    fingerprint_inputs: dict,
    build,
    partition_by: list | None = None,
):
    """Run or resume a stage.

    build: () -> DataFrame, invoked only on cache miss.
    Returns (df, manifest, resumed: bool); df reads the stage's files with
    the manifest schema.
    """
    os.makedirs(out_dir, exist_ok=True)
    fp = _fingerprint(fingerprint_inputs)
    manifest = read_manifest(out_dir, stage)
    path = stage_path(out_dir, stage)
    resumed = bool(manifest and manifest.get("fingerprint") == fp and os.path.exists(path))
    if not resumed:
        manifest = write_stage(build(), out_dir, stage, fp, partition_by)
    df = spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(path)
    return df, manifest, resumed


def append_mentions(
    spark: SparkSession,
    new_transcripts: DataFrame,
    model_dir: str,
    out_dir: str,
    batch_id: str,
) -> dict:
    """Incremental ingest: NER over ONLY the new turns, appended to the
    mention store partitioned by ingest batch. The expensive stage (NER)
    never recomputes old data; downstream stages (resolution, triples) are
    rebuilt from the full cached mention table by build_knowledge_graph
    (global entity resolution cannot be incrementally patched without
    changing its semantics — rebuilding from cached mentions is the honest
    standard pattern).

    Idempotent per batch_id: re-appending an already-ingested batch is a
    no-op (recorded in the batches manifest).
    """
    import glob

    from ..ner.pipeline import recognize_df

    os.makedirs(out_dir, exist_ok=True)
    path = stage_path(out_dir, "mentions_incremental")
    manifest_path = os.path.join(out_dir, "mentions_incremental._batches.json")
    batches = {}
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            batches = json.load(f)
    if batch_id in batches:
        return {"batch_id": batch_id, "rows": batches[batch_id]["rows"], "appended": False}

    mentions = recognize_df(new_transcripts, model_dir).withColumn(
        "ingest_batch", F.lit(batch_id)
    )
    mentions.write.mode("append").partitionBy("ingest_batch").parquet(path)
    rows = spark.read.parquet(path).where(F.col("ingest_batch") == batch_id).count()
    batches[batch_id] = {"rows": int(rows), "written_at": time.time()}
    _write_json(manifest_path, batches)
    # existence of new mentions invalidates the downstream fingerprint chain
    return {"batch_id": batch_id, "rows": int(rows), "appended": True}


def read_incremental_mentions(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(stage_path(out_dir, "mentions_incremental"))


def incremental_batches_fingerprint(out_dir: str) -> str:
    manifest_path = os.path.join(out_dir, "mentions_incremental._batches.json")
    if not os.path.exists(manifest_path):
        return "none"
    with open(manifest_path, encoding="utf-8") as f:
        return _fingerprint(json.load(f))


def build_knowledge_graph(
    spark: SparkSession,
    transcripts: DataFrame | None,
    model_dir: str,
    out_dir: str,
    config: dict | None = None,
    incremental: bool = False,
) -> dict:
    """Full pipeline: transcripts -> mentions -> entities -> triples,
    each stage checkpointed with lineage for exact resume.

    incremental=True reads the append-only mention store maintained by
    append_mentions() instead of recomputing NER; downstream stages rebuild
    whenever the ingested-batch set changed (their fingerprints chain off
    it) and resume otherwise.

    Returns {"mentions": df, "entities": df, "triples": df, "manifests": [...],
    "resumed": [...]}.
    """
    from ..ner.pipeline import recognize_df
    from .resolution import entity_table, resolve_entities
    from .triples import extract_triples

    config = dict(config or {})
    base_fp = {"model_dir": model_dir, "config": config}

    manifests = []
    resumed = []

    if incremental:
        mentions = read_incremental_mentions(spark, out_dir).drop("ingest_batch")
        m1 = {"stage": "mentions_incremental", "fingerprint": incremental_batches_fingerprint(out_dir)}
        r1 = True
    else:
        mentions, m1, r1 = run_stage(
            spark,
            out_dir,
            "mentions",
            {**base_fp, "stage": "mentions"},
            lambda: recognize_df(transcripts, model_dir),
        )
    manifests.append(m1)
    resumed.append(r1)

    mention_entities, m2, r2 = run_stage(
        spark,
        out_dir,
        "mention_entities",
        {**base_fp, "stage": "mention_entities", "upstream": m1["fingerprint"]},
        lambda: resolve_entities(mentions, **config.get("resolution", {}))[0],
    )
    manifests.append(m2)
    resumed.append(r2)

    def build_entity_table():
        return entity_table(
            mention_entities.groupBy("entity_id", "type", "norm").agg(
                F.count(F.lit(1)).alias("n_mentions")
            )
        )

    # entities and triples both build from mention_entities, not from each
    # other: run them on two driver threads (each inherits this thread's
    # job group and local properties) so their jobs share the task slots
    in_thread = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        ent = pool.submit(
            in_thread(run_stage),
            spark,
            out_dir,
            "entities",
            {**base_fp, "stage": "entities", "upstream": m2["fingerprint"]},
            build_entity_table,
        )
        tri = pool.submit(
            in_thread(run_stage),
            spark,
            out_dir,
            "triples",
            {**base_fp, "stage": "triples", "upstream": m2["fingerprint"]},
            lambda: extract_triples(mention_entities, transcripts),
            partition_by=["pred"],
        )
        (entities, m3, r3), (triples, m4, r4) = ent.result(), tri.result()
    manifests += [m3, m4]
    resumed += [r3, r4]

    return {
        "mentions": mentions,
        "mention_entities": mention_entities,
        "entities": entities,
        "triples": triples,
        "manifests": manifests,
        "resumed": resumed,
    }
