"""Stored indexes: immutable parquet segments committed by one versioned
manifest.

Every index family (MinHash, winnowing, line counts, quality model,
pHash, PQ / IVF-PQ / SQ8 codes, the Bloom sketch) keeps its state in
this one layout::

    <path>/_MANIFEST-v00007                 the commit point
    <path>/<part>/s-<uuid>/                 a segment (parquet files)
    <path>/<part>/<key>=<v>/s-<uuid>/       a segment of a keyed part

The manifest is JSON: ``family``, the family's ``params``, and for each
part its Spark schema, its integer partition key (if any) and its live
segments. Design rules, each stated once here:

- **One commit point.** A write, append, delete or compaction writes
  NEW segment directories, then commits the next manifest version with
  ``os.replace`` of a temp file; "latest" is the highest version. Only
  after the commit does :func:`commit` garbage-collect whatever the new
  manifest does not reference (superseded segments, older manifests,
  staging dirs of crashed writes, layouts that predate the manifest).
  A crash anywhere leaves the pre-op or the post-op index readable, and
  re-running the op converges. There is no separate pointer file.
- **Segments are immutable until after the commit**, so no rewrite
  reads the directory it writes: a delete or a compaction reads the old
  segments while writing new ones, and a replayed epoch (key value)
  replaces that value's segments in the manifest.
- **Reads run no Spark job for metadata.** The manifest is read with
  ``open`` + ``json.loads``; a part is read as
  ``spark.read.schema(<recorded>).parquet(*segment_dirs)``, with
  ``basePath`` set for keyed parts so ``<key>`` stays a real partition
  column (PartitionFilters prune it). Spark lists more paths than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) with
  a Spark job, so a part with more live segments is read as the union
  of scans of at most that many segments each.
- **Failures are loud.** A corrupt manifest, or one missing a field,
  raises ``ValueError`` at read time. A missing index raises
  ``FileNotFoundError`` naming the path; a directory holding no
  manifest (a ``_meta`` layout from before the manifest) is never
  adopted: it counts as no index, and the call that creates an index
  there replaces it.
- **Local filesystem only.** The commit is plain Python (``os.replace``,
  ``os.listdir``) so it also runs in a Python worker with no JVM (the
  ``sources.pyds`` sink commits through :func:`commit_manifest`). A
  path with any scheme other than ``file:`` raises ``ValueError``.

The manifest primitives (:func:`list_versions`, :func:`read_manifest`,
:func:`commit_manifest`) are shared with the ``sources.pyds`` sink,
whose versions stay on disk for time travel; index commits keep only
the latest version.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

__all__ = [
    "Index",
    "Part",
    "commit",
    "commit_manifest",
    "drop_index",
    "exists",
    "list_versions",
    "open_index",
    "read_manifest",
    "read_part",
    "write_part",
]

_MANIFEST_RE = re.compile(r"_MANIFEST-v(\d+)")
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_TMP = "._MANIFEST.tmp"


def local_path(path: str) -> str:
    """``path`` as a local filesystem path; any non-``file:`` scheme
    raises ValueError."""
    m = re.match(r"([A-Za-z][A-Za-z0-9+.-]*):", path)
    if m and len(m.group(1)) > 1:  # one letter: a Windows drive
        if m.group(1).lower() != "file":
            raise ValueError(
                f"stored indexes live on the local filesystem; got {path!r}"
            )
        path = re.sub(r"^file:(//)?", "", path)
    return os.path.abspath(path)


# ---------------------------------------------------------------- manifests
def _manifest_name(version: int) -> str:
    return f"_MANIFEST-v{version:05d}"


def list_versions(path: str) -> list[int]:
    """All committed manifest versions under ``path``, ascending."""
    try:
        entries = os.listdir(path)
    except FileNotFoundError:
        return []
    # \d+ (not \d{5}): the zero-padding is for sort convenience only;
    # at version 100000 the name grows a digit and must still be seen
    return sorted(
        int(m.group(1)) for e in entries if (m := _MANIFEST_RE.fullmatch(e))
    )


def read_manifest(path: str, version: int | None = None) -> dict:
    """The latest manifest (highest version), or ``version``'s.

    FileNotFoundError when there is none; ValueError when it does not
    parse as a JSON object."""
    if version is None:
        versions = list_versions(path)
        if not versions:
            raise FileNotFoundError(f"no manifest under {path}")
        version = versions[-1]
    name = os.path.join(path, _manifest_name(version))
    with open(name) as f:
        text = f.read()
    try:
        out = json.loads(text)
    except ValueError as e:
        raise ValueError(f"corrupt manifest {name}: {e}") from None
    if not isinstance(out, dict):
        raise ValueError(f"corrupt manifest {name}: not a JSON object")
    return out


def commit_manifest(path: str, manifest: dict) -> dict:
    """Publish ``manifest`` as the next version under ``path`` and
    return it with its ``version`` set. The temp-file write plus
    ``os.replace`` is atomic: a reader sees the whole new version or
    the previous latest. Single writer per path."""
    os.makedirs(path, exist_ok=True)
    out = dict(manifest, version=1 + max(list_versions(path), default=0))
    tmp = os.path.join(path, _TMP)
    with open(tmp, "w") as f:
        f.write(json.dumps(out))
    os.replace(tmp, os.path.join(path, _manifest_name(out["version"])))
    return out


# ---------------------------------------------------------------- indexes
@dataclass(frozen=True)
class Part:
    """One table of an index: its Spark schema (JSON), its integer
    partition key column (or None) and its live segment directories,
    relative to the index root."""

    schema: str
    segments: tuple[str, ...] = ()
    key: str | None = None

    def key_of(self, seg: str) -> int:
        return int(seg.split("/")[-2].split("=", 1)[1])

    def keys(self) -> list[int]:
        """Distinct partition-key values with a live segment, ascending."""
        return sorted({self.key_of(s) for s in self.segments})

    def where_key(self, pred) -> "Part":
        """This part restricted to segments whose key satisfies ``pred``."""
        return Part(
            self.schema, tuple(s for s in self.segments if pred(self.key_of(s))),
            self.key,
        )

    def plus(self, other: "Part") -> "Part":
        """Segments of both; this part's schema and key."""
        return Part(self.schema, self.segments + other.segments, self.key)

    def empty(self) -> "Part":
        return Part(self.schema, (), self.key)

    def spark_schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema))

    def read(self, spark, root: str, name: str):
        """The part's rows: parquet scans of its segments under the
        recorded schema (no inference job), each over no more segments
        than Spark lists on the driver. A part with no segments reads
        as an empty frame of that schema."""
        root = local_path(root)
        reader = spark.read.schema(self.spark_schema())
        if self.key is not None and self.segments:
            reader = reader.option("basePath", os.path.join(root, name))
        paths = [os.path.join(root, s) for s in self.segments]
        n = max(1, int(spark.conf.get(_LISTING_THRESHOLD)))
        scans = [reader.parquet(*paths[i : i + n]) for i in range(0, len(paths), n)]
        return functools.reduce(DataFrame.union, scans) if scans else reader.parquet()


@dataclass(frozen=True)
class Index:
    """A committed index: what its latest manifest says."""

    path: str
    family: str
    params: dict
    parts: dict = field(default_factory=dict)

    def read(self, spark, part: str, sub: Part | None = None):
        """Part ``part`` (or ``sub``, a subset of its segments) as a frame."""
        return (self.parts[part] if sub is None else sub).read(spark, self.path, part)


def _not_an_index(path: str) -> FileNotFoundError:
    if os.path.exists(path):
        return FileNotFoundError(
            f"no stored index at {path}: the directory holds no manifest "
            "(a layout from before the manifest format, which is never "
            "adopted); rebuild the index with its write call"
        )
    return FileNotFoundError(f"no stored index at {path}")


def exists(path: str) -> bool:
    """Whether ``path`` holds a committed index."""
    return bool(list_versions(local_path(path)))


def open_index(path: str, family: str | None, params: tuple = ()) -> Index:
    """The latest committed index of ``family`` (None: any) at ``path``.

    FileNotFoundError naming the path when there is no manifest;
    ValueError when the manifest is corrupt, lacks a field (including
    any of ``params``) or belongs to another family."""
    root = local_path(path)
    try:
        m = read_manifest(root)
    except FileNotFoundError:
        raise _not_an_index(root) from None
    where = f"manifest v{m.get('version')} of {root}"
    try:
        got_family, got_params, raw_parts = m["family"], m["params"], m["parts"]
        parts = {
            name: Part(p["schema"], tuple(p["segments"]), p["key"])
            for name, p in raw_parts.items()
        }
    except (KeyError, TypeError, AttributeError) as e:
        raise ValueError(f"corrupt {where}: missing field {e}") from None
    if family is not None and got_family != family:
        raise ValueError(
            f"{root} holds a {got_family!r} index, not a {family!r} index"
        )
    missing = [p for p in params if p not in got_params]
    if missing:
        raise ValueError(f"corrupt {where}: params lack {missing}")
    return Index(root, got_family, got_params, parts)


def read_part(spark, path: str, part: str):
    """Part ``part`` of the index at ``path``, whatever its family."""
    return open_index(path, None).read(spark, part)


def _write_segment(frame, target: str, key: str | None) -> None:
    """The one Spark job of a segment write: ``frame`` as parquet at
    ``target`` (partitioned by ``key`` when given)."""
    writer = frame.write.mode("errorifexists")
    if key is not None:
        writer = writer.partitionBy(key)
    writer.parquet(target)


def write_part(frame, path: str, part: str, key: str | None = None) -> Part:
    """Write ``frame`` as NEW segments of ``part`` (one per value of
    ``key`` when given) and return them as a Part; nothing is visible
    until :func:`commit` lists them. The recorded schema is ``frame``'s,
    with ``key`` last (where a parquet read puts a partition column)."""
    root = local_path(path)
    seg = f"s-{uuid.uuid4().hex}"
    fields = [f for f in frame.schema.fields if f.name != key]
    fields += [f for f in frame.schema.fields if f.name == key]
    schema = StructType(fields).json()
    if key is None:
        _write_segment(frame, os.path.join(root, part, seg), None)
        return Part(schema, (f"{part}/{seg}",))
    stage = os.path.join(root, part, f"_stage-{seg}")
    _write_segment(frame, stage, key)
    segments = []
    for name in sorted(os.listdir(stage)):
        if name.startswith(f"{key}="):
            os.makedirs(os.path.join(root, part, name), exist_ok=True)
            os.rename(
                os.path.join(stage, name), os.path.join(root, part, name, seg)
            )
            segments.append(f"{part}/{name}/{seg}")
    _remove(stage)
    return Part(schema, tuple(segments), key)


def _remove(p: str) -> None:
    if os.path.isdir(p) and not os.path.islink(p):
        shutil.rmtree(p)
    else:
        os.remove(p)


def _gc(root: str, manifest: dict) -> None:
    """Delete everything under ``root`` that ``manifest`` does not
    reference. Runs only after the commit, so a crash here leaves
    garbage, never a missing segment; the next commit sweeps it."""
    live = {_manifest_name(manifest["version"])}
    ancestors = set()
    for p in manifest["parts"].values():
        for s in p["segments"]:
            live.add(s)
            bits = s.split("/")
            ancestors.update("/".join(bits[:i]) for i in range(1, len(bits)))

    def sweep(rel: str) -> None:
        for name in sorted(os.listdir(os.path.join(root, rel))):
            r = f"{rel}/{name}" if rel else name
            if r in live:
                continue
            if r in ancestors:
                sweep(r)
            else:
                _remove(os.path.join(root, r))

    sweep("")


def commit(path: str, family: str, params: dict, parts: dict) -> None:
    """Publish ``parts`` (name → Part) with ``params`` as the next
    version of the index at ``path`` (creating it, and replacing any
    layout with no manifest), then garbage-collect what it no longer
    references."""
    root = local_path(path)
    m = commit_manifest(
        root,
        {
            "family": family,
            "params": params,
            "parts": {
                n: {"schema": p.schema, "key": p.key, "segments": list(p.segments)}
                for n, p in parts.items()
            },
        },
    )
    _gc(root, m)


def drop_index(path: str) -> bool:
    """Delete the index at ``path``; returns whether one existed. The
    commit point is the removal of the latest manifest (older ones go
    first), so a crash leaves the index whole or absent. Leftovers with
    no manifest (a crashed drop, a pre-manifest layout) are removed
    too."""
    root = local_path(path)
    versions = list_versions(root)
    for v in versions:
        _remove(os.path.join(root, _manifest_name(v)))
    if os.path.exists(root):
        _remove(root)
    return bool(versions)
