"""Seeded input generators for the benchmark workloads.

Inputs are made with numpy + pyarrow only, so the program under test
never takes part in building them: it sees only the files written here.
The same (workload, seed, size) always gives byte-identical tables, and
a finished set is cached under ``.perfbench/cache/`` so a repeated seed
skips generation. Tables use the sf layout (one ``<name>.parquet`` per
table) so the registry queries and their DuckDB oracles read the same
files.
"""

from __future__ import annotations

import gzip
import os
import shutil
import uuid
from xml.sax.saxutils import escape, quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the word list of the sf ``documents`` test tables
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
CAPTION_WORDS = ["harbor", "straße", "night", "café", "skyline", "über", "plaza",
                 "旧市街", "bridge", "fog", "sunset", "markt", "tower", "schnee"]
LANGS = ["en", "de", "fr", "es", "zh"]


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def cached(root: str, name: str, build) -> str:
    """Return ``root/name``, building it with ``build(tmp_dir)`` first if
    no finished copy exists. The build writes into a private directory
    that is renamed into place, so a killed run leaves no half set."""
    final = os.path.join(root, name)
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _fixed_strings(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    """``prefix + zero-padded id`` strings built straight from buffers."""
    digits = np.char.zfill(ids.astype(str), width).astype(f"S{width}")
    raw = np.char.add(prefix.encode(), digits)
    n, w = len(ids), len(prefix) + width
    offsets = np.arange(0, (n + 1) * w, w, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(raw.tobytes())
    )


def _pick(words: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(words)
    ).cast(pa.string())


def customer_table(seed: int, n: int) -> pa.Table:
    """``n`` customers whose keys are a seeded sample of 1..4n; the
    registry derives every box from ``c_custkey``, so the seed moves
    the boxes."""
    r = rng(seed, 1)
    keys = np.sort(r.choice(np.arange(1, 4 * n + 1), size=n, replace=False))
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": _fixed_strings("Customer#", keys, 9),
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, n), 2)),
        "c_mktsegment": _pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                               "MACHINERY"], r.integers(0, 5, n)),
    })


def images_table(seed: int, n: int, side: int = 4) -> pa.Table:
    """The ``schemas.IMAGES`` table: ``n`` rows with a seeded phash
    uniform over non-negative int64 (so the geotag covers the globe,
    including latitudes outside [-90, 90] before the clamp) and a small
    fake-codec payload (``FKIM`` header + side×side RGB)."""
    r = rng(seed, 2)
    phash = r.integers(0, 2**63 - 1, n, dtype=np.int64)
    ids = np.arange(n, dtype=np.int64)
    fmt = r.integers(0, 2, n)
    px = r.integers(0, 256, (n, side * side * 3), dtype=np.uint8)
    header = np.frombuffer(b"FKIM\x00" + side.to_bytes(2, "big") * 2, np.uint8)
    blob = np.concatenate([np.broadcast_to(header, (n, len(header))), px], axis=1)
    blob[:, 4] = fmt
    w = blob.shape[1]
    payload = pa.Array.from_buffers(pa.binary(), n, [
        None,
        pa.py_buffer(np.arange(0, (n + 1) * w, w, dtype=np.int32)),
        pa.py_buffer(np.ascontiguousarray(blob).tobytes()),
    ])
    words = r.integers(0, len(CAPTION_WORDS), (3, n))
    caption = pc.binary_join_element_wise(
        *[_pick(CAPTION_WORDS, words[i]) for i in range(3)], " "
    )
    return pa.table({
        "image_id": _fixed_strings("img", ids, 12),
        "bytes": payload,
        "w": pa.array(np.full(n, side, np.int32)),
        "h": pa.array(np.full(n, side, np.int32)),
        "fmt": _pick(["fraw", "fjpg"], fmt),
        "caption": caption,
        "phash": pa.array(phash),
    })


def write_images(out_dir: str, table: pa.Table, n_files: int) -> None:
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def tile_inputs(cache: str, seed: int, n_images: int, n_customers: int) -> str:
    def build(d):
        pq.write_table(customer_table(seed, n_customers), f"{d}/customer.parquet")
        write_images(f"{d}/images.parquet", images_table(seed, n_images), 16)

    return cached(cache, f"tile_pipeline-s{seed}-{n_images}-{n_customers}", build)


def documents_table(seed: int, n: int, near_rate: float, exact_rate: float) -> pa.Table:
    """``n`` documents in the sf ``documents`` layout: 10 to 99 words
    from the sf word list. A share ``near_rate`` are an earlier document
    with the word ``dup`` appended (the near-copy edit of the sf tables)
    and a share ``exact_rate`` are verbatim copies of an earlier one."""
    r = rng(seed, 3)
    texts: list[str] = []
    # exact shares, not coin flips: every seed does the same amount of work
    kinds = (r.permutation(n) + 0.5) / n
    for i in range(n):
        if i and kinds[i] < exact_rate:
            texts.append(texts[int(r.integers(0, i))])
        elif i and kinds[i] < exact_rate + near_rate:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS),
                                                               int(r.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, r.integers(0, len(LANGS), n)),
        "source": pa.array([f"src{i % 50}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def orders_table(seed: int, n: int) -> pa.Table:
    """``n`` orders with consecutive keys from a seeded offset, as in the
    sf tables (every key present). The phash near-dup gate derives each
    hash from the key and groups keys by ``(k-1) div 5``, so the offset
    moves the hashes and every group has five members."""
    r = rng(seed, 4)
    keys = np.arange(n, dtype=np.int64) + 5 * int(r.integers(1, 10**6))
    return pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(r.integers(1, 1500, n), pa.int64()),
        "o_totalprice": pa.array(np.round(r.uniform(900, 500000, n), 2)),
    })


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    """``n`` independent random unit vectors, as in the sf tables (no
    natural near-duplicates; the embed gate plants its own copies)."""
    r = rng(seed, 5)
    vecs = r.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)), flat
        ),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def neardup_inputs(cache: str, seed: int, n_docs: int, n_orders: int, n_vectors: int,
                   near_rate: float, exact_rate: float) -> str:
    def build(d):
        pq.write_table(documents_table(seed, n_docs, near_rate, exact_rate),
                       f"{d}/documents.parquet")
        pq.write_table(orders_table(seed, n_orders), f"{d}/orders.parquet")
        pq.write_table(embeddings_table(seed, n_vectors), f"{d}/embeddings.parquet")

    name = f"neardup_dedup-s{seed}-{n_docs}-{n_orders}-{n_vectors}-{near_rate}-{exact_rate}"
    return cached(cache, name, build)


# ---------------------------------------------------------------------------
# replication: a base changeset table plus one diff per sequence
# ---------------------------------------------------------------------------

T0 = np.datetime64("2021-01-01T00:00:00", "s")


def _changeset_rows(r: np.random.Generator, ids: np.ndarray, seq: int) -> dict:
    n = len(ids)
    created = T0 + r.integers(0, 365 * 86400, n).astype("timedelta64[s]")
    closed = created + (600 + 60 * seq + r.integers(0, 3600, n)).astype("timedelta64[s]")
    lat = np.round(r.uniform(-85, 85, n), 7)
    lon = np.round(r.uniform(-175, 175, n), 7)
    span = np.round(r.uniform(0, 0.5, n), 7)
    uid = r.integers(1, 5000, n)
    return {
        "id": ids.astype(np.int64),
        "user_id": uid.astype(np.int64),
        "created_at": created,
        "closed_at": closed,
        "open": np.zeros(n, bool),
        "num_changes": r.integers(1, 10000, n).astype(np.int32),
        "user_name": [f"user_{u}" for u in uid],
        "min_lat": lat,
        "max_lat": np.round(lat + span, 7),
        "min_lon": lon,
        "max_lon": np.round(lon + span, 7),
        "tags": [
            [("created_by", f"JOSM/1.{seq % 7}")] + ([("comment", f"edit #{i}")] if i % 3 else [])
            for i in ids
        ],
    }


def _comment_rows(r: np.random.Generator, ids: np.ndarray, seq: int) -> dict:
    """One or two comments on about a third of the changesets."""
    parents = ids[r.random(len(ids)) < 0.35]
    parents = np.concatenate([parents, parents[: len(parents) // 3]])
    n = len(parents)
    uid = r.integers(1, 500, n)
    return {
        "comment_changeset_id": parents.astype(np.int64),
        "comment_user_id": uid.astype(np.int64),
        "comment_user_name": [f"rev_{u}" for u in uid],
        "comment_date": T0 + (86400 * seq + r.integers(0, 86400, n)).astype("timedelta64[s]"),
        "comment_text": [f"seq {seq} — prüfen #{i}" for i in range(n)],
    }


CHANGESET_SCHEMA = pa.schema([
    ("id", pa.int64()), ("user_id", pa.int64()),
    ("created_at", pa.timestamp("us", tz="UTC")), ("closed_at", pa.timestamp("us", tz="UTC")),
    ("open", pa.bool_()), ("num_changes", pa.int32()), ("user_name", pa.string()),
    ("min_lat", pa.float64()), ("max_lat", pa.float64()),
    ("min_lon", pa.float64()), ("max_lon", pa.float64()),
    ("tags", pa.map_(pa.string(), pa.string())),
])
COMMENT_SCHEMA = pa.schema([
    ("comment_changeset_id", pa.int64()), ("comment_user_id", pa.int64()),
    ("comment_user_name", pa.string()), ("comment_date", pa.timestamp("us", tz="UTC")),
    ("comment_text", pa.string()),
])


def replication_base(cache: str, seed: int, n_base: int) -> str:
    def build(d):
        r = rng(seed, 6)
        ids = np.arange(1, n_base + 1)
        pq.write_table(pa.table(_changeset_rows(r, ids, 0), CHANGESET_SCHEMA),
                       f"{d}/changesets.parquet")
        pq.write_table(pa.table(_comment_rows(r, ids, 0), COMMENT_SCHEMA),
                       f"{d}/comments.parquet")

    return cached(cache, f"replication_ingest-s{seed}-{n_base}", build)


def diff_tables(seed: int, seq: int, n_base: int, size: int) -> tuple[pa.Table, pa.Table]:
    """Sequence ``seq``'s diff: ``size`` distinct changesets, 60% updates
    of ids that already exist and 40% new ids, plus their comments."""
    r = rng(seed, 7, seq)
    n_upd = size * 3 // 5
    known = n_base + (seq - 1) * (size - n_upd)  # ids that exist before this diff
    upd = r.choice(np.arange(1, known + 1), size=n_upd, replace=False)
    new = np.arange(known + 1, known + 1 + size - n_upd)
    ids = np.concatenate([upd, new])
    return (
        pa.table(_changeset_rows(r, ids, seq), CHANGESET_SCHEMA),
        pa.table(_comment_rows(r, ids, seq), COMMENT_SCHEMA),
    )


def diff_xml(changesets: pa.Table, comments: pa.Table) -> str:
    """Render a diff in the OSM changeset XML the replication source reads."""
    by_parent: dict[int, list[str]] = {}
    for c in comments.to_pylist():
        by_parent.setdefault(c["comment_changeset_id"], []).append(
            f'<comment uid="{c["comment_user_id"]}" user={quoteattr(c["comment_user_name"])} '
            f'date="{c["comment_date"].strftime("%Y-%m-%dT%H:%M:%SZ")}">'
            f"<text>{escape(c['comment_text'])}</text></comment>"
        )
    rows = []
    for cs in changesets.to_pylist():
        attrs = (
            f'id="{cs["id"]}" created_at="{cs["created_at"].strftime("%Y-%m-%dT%H:%M:%SZ")}" '
            f'closed_at="{cs["closed_at"].strftime("%Y-%m-%dT%H:%M:%SZ")}" open="false" '
            f'user={quoteattr(cs["user_name"])} uid="{cs["user_id"]}" '
            f'min_lat="{cs["min_lat"]!r}" min_lon="{cs["min_lon"]!r}" '
            f'max_lat="{cs["max_lat"]!r}" max_lon="{cs["max_lon"]!r}" '
            f'num_changes="{cs["num_changes"]}"'
        )
        body = "".join(f"<tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in cs["tags"])
        if cs["id"] in by_parent:
            body += "<discussion>" + "".join(by_parent[cs["id"]]) + "</discussion>"
        rows.append(f"<changeset {attrs}>{body}</changeset>")
    return ('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n'
            + "\n".join(rows) + "\n</osm>\n")


def sequence_path(seq: int) -> str:
    """``AAA/BBB/CCC.osm.gz`` for a 9-digit zero-padded sequence."""
    s = str(seq).zfill(9)
    return f"{s[:3]}/{s[3:6]}/{s[6:]}.osm.gz"


def publish_diff(base: str, seq: int, xml: str) -> int:
    """Publish one diff in the replication wire layout (the gz file,
    then ``state.yaml``); returns the uncompressed XML bytes."""
    path = os.path.join(base, sequence_path(seq))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = xml.encode("utf-8")
    with gzip.open(path, "wb", compresslevel=1) as f:
        f.write(data)
    tmp = os.path.join(base, "state.yaml.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"---\nsequence: {seq}\n")
    os.replace(tmp, os.path.join(base, "state.yaml"))
    return len(data)
