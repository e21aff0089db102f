"""Index manifest + per-segment checkpoints (two-phase-commit analogue).

The reference publishes a new index generation by writing ``segments_N`` to a
temp file and renaming it (`core/index/index_writer.cpp:2360-2380`). We do the
same: the manifest JSON is written to ``manifest.json.tmp`` and atomically
renamed. Per-segment checkpoint files carry lineage + build metrics and make a
partially-completed build resumable: a segment whose checkpoint exists is
never rebuilt.

The manifest content is fully deterministic (counts, bytes, content hashes,
lineage) — wall-clock timings live in ``build_log.json`` which is NOT part of
the committed state — so an interrupted-then-resumed build produces a
byte-identical manifest to an uninterrupted one (FIXTURES.md F6).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


# Postings and positions blobs are bit-packed (`iresearch_spark.codec.packed`,
# the `formats_10.cpp:86-131` SIMD format analogue). Indexes written before
# the format became the only one may record "varint" or omit these keys;
# read_manifest refuses them.
CODEC = "packed"
CODEC_KEYS = ("postings_codec", "positions_codec")


@dataclass
class Manifest:
    format_version: int
    num_segments: int
    field_name: str  # primary field (fields[0])
    analyzer: str  # primary field's analyzer
    with_positions: bool
    segments: list[dict] = field(default_factory=list)
    # all indexed fields as [name, analyzer] pairs (reference indexes N
    # fields per doc, segment_writer.hpp:91-119); None == legacy single-field
    fields: list[list[str]] | None = None
    # primary-sort columns (sorted index, core/index/comparer.hpp); merge
    # concatenates sorted runs without a global re-sort (documented deviation)
    sort: list[str] | None = None
    # per-position payload stream present (IndexFeatures::PAY,
    # `core/analysis/token_attributes.hpp:67-72`): segment rows carry
    # pay_lens/payloads columns
    with_payloads: bool = False
    # commit-level user payload (index_writer.cpp:1181-1183 meta payload
    # provider — ArangoDB stores its recovery tick here); base64 of the bytes
    commit_payload: str | None = None

    def commit_payload_bytes(self) -> bytes | None:
        if self.commit_payload is None:
            return None
        import base64

        return base64.b64decode(self.commit_payload)

    def field_specs(self) -> list[tuple[str, str]]:
        if self.fields:
            return [(f[0], f[1]) for f in self.fields]
        return [(self.field_name, self.analyzer)]

    def to_json(self) -> str:
        payload = {
            "format_version": self.format_version,
            "num_segments": self.num_segments,
            "field": self.field_name,
            "analyzer": self.analyzer,
            "with_positions": self.with_positions,
            "segments": sorted(self.segments, key=lambda s: s["segment_id"]),
        }
        if self.fields is not None:
            payload["fields"] = self.fields
        if self.sort is not None:
            payload["sort"] = self.sort
        if self.with_payloads:
            payload["with_payloads"] = True
        if self.commit_payload is not None:
            payload["commit_payload"] = self.commit_payload
        # the one postings/positions format (codec.packed); recorded so a
        # reader can tell it from the retired varint format
        payload.update(dict.fromkeys(CODEC_KEYS, CODEC))
        return json.dumps(payload, sort_keys=True, separators=(",", ":")) + "\n"


def manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def generations_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "generations")


def generation_path(index_dir: str, generation: int) -> str:
    return os.path.join(generations_dir(index_dir), f"gen-{generation:06d}.json")


def list_generations(index_dir: str) -> list[int]:
    """Committed generation numbers, ascending (the reference's retained
    ``segments_N`` files, `core/index/index_reader.hpp:35-153`)."""
    d = generations_dir(index_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[len("gen-"):-len(".json")])
        for n in os.listdir(d)
        if n.startswith("gen-") and n.endswith(".json")
    )


def write_manifest(index_dir: str, manifest: Manifest) -> None:
    """Atomic publish (== Commit()): write-tmp-then-rename ``manifest.json``
    AND retain a numbered copy under ``generations/`` — the reference keeps
    every committed ``segments_N`` on disk until the directory cleaner runs,
    which is what makes point-in-time reopen possible. The generation number
    lives only in the filename so the canonical ``manifest.json`` bytes stay
    resume-deterministic (FIXTURES.md F6)."""
    payload = manifest.to_json()
    gens = list_generations(index_dir)
    gen = (gens[-1] + 1) if gens else 1
    os.makedirs(generations_dir(index_dir), exist_ok=True)
    gpath = generation_path(index_dir, gen)
    with open(gpath + ".tmp", "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.rename(gpath + ".tmp", gpath)
    path = manifest_path(index_dir)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)  # atomic publish == Commit()


def prune_generations(index_dir: str, keep: int) -> list[int]:
    """Directory-cleaner analogue (the reference's ``directory_cleaner``
    removes committed ``segments_N`` files past a retention policy): delete
    retained generation files, keeping the newest ``keep``. Returns the
    pruned generation numbers. The live ``manifest.json`` is never touched,
    so the current snapshot always survives; point-in-time reads of pruned
    generations raise FileNotFoundError afterwards (same contract as the reference
    reopening a cleaned segments_N)."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    gens = list_generations(index_dir)
    victims = gens[:-keep] if len(gens) > keep else []
    for g in victims:
        os.remove(generation_path(index_dir, g))
    return victims


def read_manifest(index_dir: str, generation: int | None = None) -> Manifest | None:
    """Latest committed manifest, or — point-in-time — the retained
    ``generation`` (reopen of any committed snapshot,
    `core/index/index_reader.hpp:35-153`). PIT reads require the referenced
    segment data to still exist: pass ``cleanup=False`` to merges (the
    analogue of holding a reader so the directory cleaner keeps the files)."""
    if generation is not None:
        path = generation_path(index_dir, generation)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"generation {generation} not retained in {index_dir}; "
                f"have {list_generations(index_dir)}"
            )
    else:
        path = manifest_path(index_dir)
        if not os.path.exists(path):
            return None
    with open(path) as f:
        d = json.load(f)
    for key in CODEC_KEYS:
        # an absent key is the legacy default, "varint"
        recorded = d.get(key, "varint")
        if recorded != CODEC:
            raise ValueError(
                f"index {index_dir} records {key}={recorded!r}; only "
                f"{CODEC!r} is readable, so rebuild the index"
            )
    return Manifest(
        format_version=d["format_version"],
        num_segments=d["num_segments"],
        field_name=d["field"],
        analyzer=d["analyzer"],
        with_positions=d["with_positions"],
        segments=d["segments"],
        fields=d.get("fields"),
        sort=d.get("sort"),
        with_payloads=d.get("with_payloads", False),
        commit_payload=d.get("commit_payload"),
    )


def checkpoint_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "checkpoints")


def checkpoint_path(index_dir: str, segment_id: int) -> str:
    return os.path.join(checkpoint_dir(index_dir), f"seg-{segment_id:06d}.json")


def write_checkpoint(index_dir: str, record: dict) -> None:
    os.makedirs(checkpoint_dir(index_dir), exist_ok=True)
    path = checkpoint_path(index_dir, record["segment_id"])
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, sort_keys=True)
    os.rename(tmp, path)


def read_checkpoints(index_dir: str) -> dict[int, dict]:
    d = checkpoint_dir(index_dir)
    out: dict[int, dict] = {}
    if not os.path.isdir(d):
        return out
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                rec = json.load(f)
            out[int(rec["segment_id"])] = rec
    return out
