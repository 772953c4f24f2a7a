"""Output checks: content digests and element counts.

XML outputs are compared by the digest of their decompressed bytes, PBF
outputs by the digest of the element stream ``pbf_sink.read_pbf`` decodes
from them.  Compressed bytes are never compared: block boundaries depend on
the partitioning a run happens to choose, so they differ between runs with
identical content.
"""

from __future__ import annotations

import bz2
import hashlib
import os


def xml_summary(path: str) -> dict:
    """Digest and element counts of one (bz2-compressed) OSM XML file.
    Every '<' inside data is escaped, so a raw '<node ' always opens an
    element."""
    with open(path, "rb") as fh:
        raw = fh.read()
    data = bz2.decompress(raw) if path.endswith(".bz2") else raw
    return {
        "digest": hashlib.sha256(data).hexdigest(),
        "counts": {
            "nodes": data.count(b"<node "),
            "ways": data.count(b"<way "),
            "relations": data.count(b"<relation "),
            "changesets": data.count(b"<changeset "),
            "comments": data.count(b"<comment "),
        },
    }


def pbf_summary(path: str) -> dict:
    from planet_dump_ng_spark.sinks.pbf_sink import read_pbf

    parsed = read_pbf(path)
    stream = repr(
        (parsed["header"], parsed["nodes"], parsed["ways"], parsed["relations"])
    ).encode()
    return {
        "digest": hashlib.sha256(stream).hexdigest(),
        "counts": {k: len(parsed[k]) for k in ("nodes", "ways", "relations")},
    }


def expected_counts(kind: str, expected: dict) -> dict:
    """The counts an output of ``kind`` must hold, from the generator's
    expectation (see gen_dump)."""
    if kind in ("pbf", "pbf-history"):
        return dict(expected["current" if kind == "pbf" else "history"])
    if kind in ("planet", "history"):
        # the XML planets carry every changeset before the elements
        return {
            **expected["current" if kind == "planet" else "history"],
            "changesets": expected["changesets"],
        }
    out = {"changesets": expected["changesets"]}
    if kind == "discussions":
        out["comments"] = expected["comments_visible_public"]
    return out


def check_planet_outputs(outputs: dict[str, tuple[str, str]], expected: dict):
    """``outputs``: {label: (path, kind)}.  Returns ({label: summary},
    [problem, ...]); an empty problem list means every output exists and
    every count matched."""
    summaries: dict[str, dict] = {}
    problems: list[str] = []
    for label, (path, kind) in outputs.items():
        if not os.path.exists(path):
            problems.append(f"{label}: missing output {path}")
            continue
        summary = pbf_summary(path) if path.endswith(".pbf") else xml_summary(path)
        summaries[label] = summary
        for what, want in expected_counts(kind, expected).items():
            got = summary["counts"][what]
            if got != want:
                problems.append(f"{label}: {what} {got} != expected {want}")
    return summaries, problems


def split_manifest(dataset_dir: str) -> dict[str, dict]:
    """Per-split manifest of a curated dataset (``split=<name>/`` parquet
    directories), read from the written files: rows, distinct doc ids and
    a digest of the sorted doc ids."""
    import pyarrow.parquet as pq

    out = {}
    for entry in sorted(os.listdir(dataset_dir)):
        if not entry.startswith("split="):
            continue
        files = sorted(
            os.path.join(dataset_dir, entry, n)
            for n in os.listdir(os.path.join(dataset_dir, entry))
            if n.endswith(".parquet")
        )
        ids = sorted(
            i for f in files for i in pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        )
        out[entry[len("split="):]] = {
            "n_rows": len(ids),
            "n_ids": len(set(ids)),
            "ids": hashlib.sha256(repr(ids).encode()).hexdigest(),
        }
    return out


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total
