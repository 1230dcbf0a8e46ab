"""Persisted dataset-derived artifacts: where they live, when they are
complete and current, and when they are removed.

An artifact is anything the engine derives from one source file and
reuses across queries and sessions: quantization code tables, trained
IVF centroids and PCA models, the MinHash-LSH index (signatures and
band keys), near-dup pair tables and cluster maps, winnowing
fingerprints, bucketed layouts.
Its key is

* a source tag, from the source file's absolute path and the artifact
  kind (one per dataset and kind), and
* a state tag, from the file's ``mtime_ns`` and size and a version
  string (the producing SQL text or the build parameters),

and its directory is ``<kind>_<source tag>_<state tag>`` under the
session's ``spark.sql.warehouse.dir``. A regenerated source file, or a
change to how the artifact is built, gives a new name, so a stale
artifact is never read.

The marker is written after the build returns and records the full key
and the schema of what was written, so a read needs no footer scan (a
schema-less ``spark.read.parquet`` runs one Spark job to infer it). A
directory without a matching marker (an interrupted build, or a marker
that predates the recorded schema) is removed and rebuilt. A build
removes the other states of the same source and kind, so superseded
artifacts do not accumulate. Deleting the whole
directory between sessions is always safe: every artifact is rebuilt on
next use.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql.types import StructType

#: completeness marker; Spark's file listing skips names starting with
#: ``_``, so no reader of the artifact sees it
MARKER = "_ARTIFACT"


def root(spark) -> str:
    """The directory that holds every artifact: the session warehouse."""
    return urlparse(spark.conf.get("spark.sql.warehouse.dir")).path


def _key(source: str, kind: str, version: str) -> dict:
    src = os.path.abspath(source)
    st = os.stat(src)
    return {"source": src, "kind": kind, "mtime_ns": st.st_mtime_ns,
            "size": st.st_size, "version": version}


def _tag(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:8]


def _path(spark, key: dict) -> str:
    src_tag = _tag(f"{key['source']}:{key['kind']}")
    state_tag = _tag(f"{key['mtime_ns']}:{key['size']}:{key['version']}")
    return os.path.join(root(spark), f"{key['kind']}_{src_tag}_{state_tag}")


def path(spark, source: str, kind: str, version: str) -> str:
    """Directory of the artifact ``kind`` of ``source`` in its current
    state (built or not)."""
    return _path(spark, _key(source, kind, version))


def ensure(spark, source: str, kind: str, version: str, write) -> tuple[str, StructType]:
    """Return the directory and schema of the current artifact, first
    calling ``write(directory)`` to build it unless a complete one
    exists; ``write`` returns the schema of the data it wrote."""
    key = _key(source, kind, version)
    target = _path(spark, key)
    marker = os.path.join(target, MARKER)
    try:
        with open(marker) as fh:
            recorded = json.load(fh)
        schema = recorded.pop("schema", None)
        if schema is not None and recorded == key:
            return target, StructType.fromJson(schema)
    except (OSError, ValueError):
        pass
    shutil.rmtree(target, ignore_errors=True)
    schema = write(target)
    with open(marker, "w") as fh:
        json.dump({**key, "schema": schema.jsonValue()}, fh)
    for stale in glob.glob(glob.escape(target.rsplit("_", 1)[0]) + "_*"):
        if stale != target:
            shutil.rmtree(stale, ignore_errors=True)
    return target, schema


def parquet(spark, source: str, kind: str, version: str, build):
    """The artifact as a parquet DataFrame read with its recorded schema;
    ``build()`` returns the DataFrame to write, executor-side, when it
    must be built."""

    def write(directory):
        df = build()
        df.write.mode("overwrite").parquet(directory)
        return df.schema

    target, schema = ensure(spark, source, kind, version, write)
    return spark.read.schema(schema).parquet(target)
