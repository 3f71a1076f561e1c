"""Prometheus TSDB block reader: native block ingestion (B1 parity).

The reference's converter reads real Prometheus TSDB blocks — index +
chunks + tombstones — through the Prometheus libraries
(reference convert/convert.go:353-396 `tsdb.NewBlockChunkSeriesSet`,
convert/tsdb.go:63-158 `indexRowReader.ReadRows`).  This module is the
from-scratch Spark-first analogue, implementing the PUBLIC on-disk
formats (Prometheus repo, tsdb/docs/format/{index,chunks,tombstones}.md
— the same public-spec discipline as api/chunkenc.py):

- ``index`` v2: TOC → symbol table → all-postings list → series entries
  (label symbol refs + per-chunk (mint, maxt, data ref) metas)
- ``chunks/NNNNNN`` segments: uvarint len + encoding byte + data +
  CRC32C, encodings XOR(1) / histogram(2) / float histogram(3), decoded
  by the golden-byte-tested codecs in api/chunkenc.py
- ``tombstones``: per-series deletion intervals, applied sample-wise
- ``meta.json``: ulid / minTime / maxTime

Scale design (100 TB lens): the index is read ONCE driver-side (the
reference downloads it the same way; it is MBs per block, not data) and
compiled into a small work table of one row per chunk.  Chunk DECODING —
the actual data volume — runs on executors via Arrow-batched
``mapInArrow``: work rows are assigned contiguous BANDS of ~512 chunks
per segment driver-side, each band carrying its exact byte bounds
[first chunk offset, next band's first offset), so every task issues
ONE ranged read of exactly its own span — bands collectively read each
segment once, sequentially, with no overlap (the same read-each-range-
once property as the reference's gap-based page partitioner,
search/partitioner.go:38-66).  File access goes through ``pyarrow.fs``
so the same code reads ``file:``, ``s3://``, ``gs://``, ``hdfs://``
blocks — the executor-side equivalent of the reference's bucket client
(locate/bucket.go).
"""

from __future__ import annotations

import json
import struct

INDEX_MAGIC = 0xBAAAD700
INDEX_VERSION = 2
CHUNKS_MAGIC = 0x85BD40DD
CHUNKS_VERSION = 1
TOMBSTONES_MAGIC = 0x0130BA30
TOMBSTONES_VERSION = 1

# on-disk chunk encodings (tsdb/chunkenc/chunk.go) — note these differ
# from the storepb wire enums in api/grpc_pb.py (XOR there is 0)
ENC_XOR = 1
ENC_HISTOGRAM = 2
ENC_FLOAT_HISTOGRAM = 3

_STALE_NAN_BITS = 0x7FF0000000000002  # Prometheus staleness marker payload


# --------------------------------------------------------------- CRC32C
def _make_crc32c_table() -> list[int]:
    poly = 0x82F63B78  # Castagnoli, reflected
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _make_crc32c_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    tbl = _CRC32C_TABLE
    for b in data:
        crc = tbl[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# ------------------------------------------------------- varint helpers
def uvarint(buf: bytes, i: int) -> tuple[int, int]:
    """LEB128 unsigned varint at buf[i:] → (value, next_index)."""
    val = shift = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def varint(buf: bytes, i: int) -> tuple[int, int]:
    """Go binary.Varint: zigzag-encoded signed varint."""
    u, i = uvarint(buf, i)
    return (u >> 1) ^ -(u & 1), i


def put_uvarint(out: bytearray, n: int) -> None:
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def put_varint(out: bytearray, n: int) -> None:
    put_uvarint(out, (n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1)


# ---------------------------------------------------------------- XXH64
# Pure-Python XXH64 (public algorithm: xxHash spec, Yann Collet,
# github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md).  Needed for
# the reference's stream keying — ExternalLabels.Hash is xxhash64 over
# the sorted (k, v) concatenation (reference schema/block.go:44-66) and
# the stream prefix is its decimal string.  Pinned against the spec's
# test vectors AND differentially against Spark's xxhash64 (seed 42)
# in tests/test_tsdb.py.
_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xrotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<4Q", data, i)
            v1 = (_xrotl((v1 + l1 * _XP2) & _M64, 31) * _XP1) & _M64
            v2 = (_xrotl((v2 + l2 * _XP2) & _M64, 31) * _XP1) & _M64
            v3 = (_xrotl((v3 + l3 * _XP2) & _M64, 31) * _XP1) & _M64
            v4 = (_xrotl((v4 + l4 * _XP2) & _M64, 31) * _XP1) & _M64
            i += 32
        h = (_xrotl(v1, 1) + _xrotl(v2, 7) +
             _xrotl(v3, 12) + _xrotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_xrotl((v * _XP2) & _M64, 31) * _XP1) & _M64
            h = (h * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= (_xrotl((k * _XP2) & _M64, 31) * _XP1) & _M64
        h = (_xrotl(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _XP1) & _M64
        h = (_xrotl(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _XP5) & _M64
        h = (_xrotl(h, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


def external_labels_hash(labels: dict[str, str]) -> int:
    """Stream key of an external-label set — the reference's
    ExternalLabels.Hash (schema/block.go:44-66): 0 for the empty set,
    else xxhash64 over the name-sorted concatenation of each key then
    value.  The stream partition value is ``str()`` of this (the
    reference's ExternalLabelsHash.String, "%d")."""
    if not labels:
        return 0
    return xxh64(b"".join(k.encode("utf-8") + labels[k].encode("utf-8")
                          for k in sorted(labels)))


# ------------------------------------------------------------ pyarrow fs
def _fs_path(path: str):
    """(pyarrow FileSystem, fs-local path) for a URI or plain path."""
    from pyarrow import fs as pafs
    if path.startswith("file:"):
        path = path[len("file:"):]
        while path.startswith("//"):  # file:///x and file://x → /x
            path = path[1:]
        return pafs.LocalFileSystem(), path
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def _read_file(path: str) -> bytes:
    fs, p = _fs_path(path)
    with fs.open_input_stream(p) as f:
        return f.read()


# ------------------------------------------------------------- meta.json
def read_block_meta_json(block_dir: str) -> dict:
    return json.loads(_read_file(f"{block_dir.rstrip('/')}/meta.json"))


# ------------------------------------------------------------ tombstones
def read_tombstones(block_dir: str) -> dict[int, list[tuple[int, int]]]:
    """series ref → closed [mint, maxt] deletion intervals.  A missing
    file means no deletions (Prometheus always writes one, but tolerate
    hand-assembled blocks)."""
    path = f"{block_dir.rstrip('/')}/tombstones"
    fs, p = _fs_path(path)
    from pyarrow import fs as pafs
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return {}
    buf = _read_file(path)
    if len(buf) < 5:
        raise ValueError("tombstones file too short")
    magic = struct.unpack_from(">I", buf, 0)[0]
    if magic != TOMBSTONES_MAGIC:
        raise ValueError(f"bad tombstones magic 0x{magic:08x}")
    if buf[4] != TOMBSTONES_VERSION:
        raise ValueError(f"unsupported tombstones version {buf[4]}")
    content, want = buf[5:-4], struct.unpack_from(">I", buf, len(buf) - 4)[0]
    if crc32c(content) != want:
        raise ValueError("tombstones checksum mismatch")
    out: dict[int, list[tuple[int, int]]] = {}
    i = 0
    while i < len(content):
        ref, i = uvarint(content, i)
        mint, i = varint(content, i)
        maxt, i = varint(content, i)
        out.setdefault(ref, []).append((mint, maxt))
    return out


# -------------------------------------------------------------- matchers
def _matcher_pred(op: str, value: str):
    """Value predicate for one ``(op, value)`` matcher, ops ``= != =~ !~``
    (regex anchored via fullmatch — PromQL semantics).

    RE2-divergence caveat: Prometheus matchers are RE2 (linear-time, no
    backreferences/lookaround); this compiles with Python ``re``
    (backtracking, a superset syntax).  For the RE2-expressible patterns
    PromQL users write the two agree; a pattern using Python-only syntax
    would be rejected by Prometheus, and an adversarial pattern can
    backtrack superlinearly here.  These matchers run DRIVER-side during
    conversion planning (CLI-supplied, trusted), never on the query
    path — query-time regex matching is Spark's ``rlike`` (Java regex,
    promql/compiler.py)."""
    if op == "=":
        return lambda v: v == value
    if op == "!=":
        return lambda v: v != value
    if op in ("=~", "!~"):
        import re
        rx = re.compile(value)
        if op == "=~":
            return lambda v: rx.fullmatch(v) is not None
        return lambda v: rx.fullmatch(v) is None
    raise ValueError(f"unsupported matcher op {op!r}")


# ------------------------------------------------------------ index file
class IndexReader:
    """Driver-side reader of the TSDB index v2 (format doc:
    tsdb/docs/format/index.md).  The whole file is held in memory — like
    the reference, which downloads the index per block; it is metadata
    (MBs), never samples."""

    def __init__(self, buf: bytes):
        if len(buf) < 5 + 52:
            raise ValueError("index file too short")
        magic = struct.unpack_from(">I", buf, 0)[0]
        if magic != INDEX_MAGIC:
            raise ValueError(f"bad index magic 0x{magic:08x}")
        if buf[4] != INDEX_VERSION:
            raise ValueError(
                f"unsupported index version {buf[4]} (v2 only — v1 blocks "
                "predate Prometheus 2.3 and use offset symbol refs)")
        self._buf = buf
        toc = buf[-52:]
        (self.toc_symbols, self.toc_series, self.toc_label_indices,
         self.toc_label_table, self.toc_postings,
         self.toc_postings_table) = struct.unpack(">6Q", toc[:48])
        if crc32c(toc[:48]) != struct.unpack(">I", toc[48:])[0]:
            raise ValueError("index TOC checksum mismatch")
        self.symbols = self._read_symbols()

    def _section(self, off: int) -> bytes:
        """len(4BE) + content + CRC32C(4BE) → verified content."""
        buf = self._buf
        (ln,) = struct.unpack_from(">I", buf, off)
        content = buf[off + 4:off + 4 + ln]
        (want,) = struct.unpack_from(">I", buf, off + 4 + ln)
        if crc32c(content) != want:
            raise ValueError(f"index section at {off}: checksum mismatch")
        return content

    def _read_symbols(self) -> list[str]:
        content = self._section(self.toc_symbols)
        (count,) = struct.unpack_from(">I", content, 0)
        i, out = 4, []
        for _ in range(count):
            ln, i = uvarint(content, i)
            out.append(content[i:i + ln].decode("utf-8"))
            i += ln
        return out

    def postings_offset_entries(self) -> list[tuple[str, str, int]]:
        """(name, value, absolute offset of the postings list)."""
        content = self._section(self.toc_postings_table)
        (count,) = struct.unpack_from(">I", content, 0)
        i, out = 4, []
        for _ in range(count):
            nkeys, i = uvarint(content, i)
            keys = []
            for _ in range(nkeys):
                ln, i = uvarint(content, i)
                keys.append(content[i:i + ln].decode("utf-8"))
                i += ln
            off, i = uvarint(content, i)
            if len(keys) != 2:
                raise ValueError(f"postings table entry with {nkeys} keys")
            out.append((keys[0], keys[1], off))
        return out

    def postings(self, off: int) -> list[int]:
        content = self._section(off)
        (count,) = struct.unpack_from(">I", content, 0)
        return list(struct.unpack_from(f">{count}I", content, 4))

    def all_postings(self) -> list[int]:
        """Series refs of every series: the special allPostingsKey
        ("", "") entry Prometheus writes into the postings offset table."""
        for name, value, off in self.postings_offset_entries():
            if name == "" and value == "":
                return self.postings(off)
        raise ValueError("index has no all-postings entry")

    def postings_for_matchers(
            self,
            matchers: dict[str, str] | list[tuple[str, str, str]],
    ) -> list[int]:
        """Series refs whose label sets satisfy every matcher — the
        PostingsForMatchers path (Prometheus tsdb/querier.go), resolved
        entirely against the postings offset table + postings lists,
        never by scanning series entries.

        ``matchers`` is either a dict (equality only) or a list of
        ``(name, op, value)`` with ops ``= != =~ !~`` (regex anchored,
        fullmatch — PromQL semantics).  The missing-label rule is
        honored exactly: a matcher its predicate accepts the EMPTY
        string for (``x!="a"``, ``x=~".*"``, ``x=""``) also matches
        series that don't carry the label at all, computed as
        all-postings minus the union of rejected values' lists."""
        if isinstance(matchers, dict):
            matchers = [(n, "=", v) for n, v in matchers.items()]
        if not matchers:
            return self.all_postings()
        by_name: dict[str, list[tuple[str, int]]] = {}
        for n, v, off in self.postings_offset_entries():
            if n != "":
                by_name.setdefault(n, []).append((v, off))
        result: set[int] | None = None
        for name, op, value in matchers:
            pred = _matcher_pred(op, value)
            vals = by_name.get(name, [])
            if pred(""):
                # missing label matches too: complement of rejected values
                sat = set(self.all_postings())
                for v, off in vals:
                    if not pred(v):
                        sat.difference_update(self.postings(off))
            else:
                sat = set()
                for v, off in vals:
                    if pred(v):
                        sat.update(self.postings(off))
            result = sat if result is None else (result & sat)
            if not result:
                return []
        return sorted(result)

    def series(self, ref: int) -> tuple[dict[str, str],
                                        list[tuple[int, int, int]]]:
        """Series entry at ref (byte offset = ref*16, index v2) →
        (labels, [(chunk data ref, mint, maxt), ...]).  Unlike the TOC
        sections, series entries carry a UVARINT length prefix."""
        buf = self._buf
        ln, i = uvarint(buf, ref * 16)
        content = buf[i:i + ln]
        (want,) = struct.unpack_from(">I", buf, i + ln)
        if crc32c(content) != want:
            raise ValueError(f"series entry at ref {ref}: checksum mismatch")
        syms = self.symbols
        nlabels, i = uvarint(content, 0)
        labels: dict[str, str] = {}
        for _ in range(nlabels):
            kref, i = uvarint(content, i)
            vref, i = uvarint(content, i)
            labels[syms[kref]] = syms[vref]
        nchunks, i = uvarint(content, i)
        chunks: list[tuple[int, int, int]] = []
        mint = maxt = cref = 0
        for k in range(nchunks):
            if k == 0:
                mint, i = varint(content, i)
                span, i = uvarint(content, i)
                cref, i = uvarint(content, i)
            else:
                dmint, i = varint(content, i)
                mint = maxt + dmint
                span, i = uvarint(content, i)
                dref, i = varint(content, i)
                cref += dref
            maxt = mint + span
            chunks.append((cref, mint, maxt))
        return labels, chunks


def read_index(block_dir: str) -> IndexReader:
    return IndexReader(_read_file(f"{block_dir.rstrip('/')}/index"))


# --------------------------------------------------------- chunk decode
def decode_chunk(enc: int, data: bytes) -> list[tuple[int, object]]:
    """(ts, value-or-hist-dict) samples of one chunk payload.  Stale-NaN
    floats (the reserved 0x7ff0000000000002 payload) map to None — the
    long format's staleness encoding (schema.py)."""
    if enc == ENC_XOR:
        from thanos_parquet_gateway_spark.api.chunkenc import (
            _b2f,
            decode_xor_chunk_bits,
        )
        stale = _STALE_NAN_BITS
        return [(t, None if bits == stale else _b2f(bits))
                for t, bits in decode_xor_chunk_bits(data)]
    if enc in (ENC_HISTOGRAM, ENC_FLOAT_HISTOGRAM):
        from thanos_parquet_gateway_spark.api.grpc_pb import (
            CHUNK_FLOAT_HISTOGRAM,
            CHUNK_HISTOGRAM,
            decode_histogram_chunk,
        )
        ctype = (CHUNK_HISTOGRAM if enc == ENC_HISTOGRAM
                 else CHUNK_FLOAT_HISTOGRAM)
        return decode_histogram_chunk(data, ctype)
    raise ValueError(f"unsupported chunk encoding {enc}")


def _parse_chunk_at(buf: bytes, pos: int,
                    verify_crc: bool) -> tuple[int, bytes, int]:
    """Chunk entry at buf[pos:] → (encoding, data, end_pos)."""
    ln, i = uvarint(buf, pos)
    enc = buf[i]
    data = bytes(buf[i + 1:i + 1 + ln])
    end = i + 1 + ln + 4
    if verify_crc:
        (want,) = struct.unpack_from(">I", buf, i + 1 + ln)
        if crc32c(buf[i:i + 1 + ln]) != want:
            raise ValueError(f"chunk at offset {pos}: checksum mismatch")
    return enc, data, end


# ------------------------------------------------------ block discovery
DELETION_MARK_FILE = "deletion-mark.json"  # thanos block/metadata filename


def discover_blocks(src: str) -> list[str]:
    """Block dirs under ``src`` (reference locate/discover.go: a block is
    a ULID dir carrying meta.json).  ``src`` itself being a block counts.
    One directory LIST — driver-side, object-store-safe via pyarrow.fs."""
    from pyarrow import fs as pafs
    fsys, p = _fs_path(src.rstrip("/"))
    if fsys.get_file_info(f"{p}/meta.json").type != pafs.FileType.NotFound:
        return [src.rstrip("/")]
    out = []
    for info in fsys.get_file_info(pafs.FileSelector(p)):
        if info.type == pafs.FileType.Directory and \
                fsys.get_file_info(f"{info.path}/meta.json").type != \
                pafs.FileType.NotFound:
            # keep the caller's scheme/prefix form
            out.append(f"{src.rstrip('/')}/{info.base_name}")
    return sorted(out)


def block_external_labels(meta: dict) -> dict[str, str]:
    """External labels from meta.json's thanos section (written by Thanos
    sidecar/receive; absent on vanilla Prometheus blocks → empty set)."""
    return dict((meta.get("thanos") or {}).get("labels") or {})


def _has_file(block_dir: str, name: str) -> bool:
    from pyarrow import fs as pafs
    fsys, p = _fs_path(block_dir.rstrip("/"))
    return fsys.get_file_info(f"{p}/{name}").type != pafs.FileType.NotFound


def discover_streams(
        src: str, *,
        ext_label_matchers: list[tuple[str, str, str]] | None = None,
        min_age_ms: int | None = None,
        now_ms: int | None = None,
) -> dict[str, dict]:
    """Group blocks under ``src`` into STREAMS keyed by their external-
    label hash — the reference's TSDBDiscoverer (locate/discover.go:
    518-651 + TSDBBlocksStreams grouping, keyed per schema/block.go:
    37-76).  Returns ``{stream_key: {"labels": {...}, "blocks": [dirs],
    "mint": m, "maxt": x}}`` with blocks sorted, where ``stream_key`` is
    the decimal string of ``external_labels_hash`` ("0" for label-less
    vanilla-Prometheus blocks).

    Filters, mirroring the reference's Discover:
    - a block carrying ``deletion-mark.json`` is skipped (about to be
      deleted);
    - a downsampled block (thanos.downsample.resolution != 0) is
      skipped — only raw resolution converts;
    - a block with stats.numChunks == 0 is skipped (nothing to convert;
      a missing stats section is NOT treated as empty);
    - ``ext_label_matchers`` ``[(name, op, value), ...]`` (ops
      ``= != =~ !~``) must all accept the block's external labels, a
      missing label matching as "";
    - ``min_age_ms``: blocks whose maxTime is after ``now - min_age``
      are skipped (still in Prometheus's retention churn window);
      ``now_ms`` pins "now" for tests.

    Driver-side: one LIST + one tiny meta.json read per block — no index
    or chunk I/O, same cost shape as the reference's discoverer."""
    out: dict[str, dict] = {}
    for b in discover_blocks(src):
        if _has_file(b, DELETION_MARK_FILE):
            continue
        meta = read_block_meta_json(b)
        thanos = meta.get("thanos") or {}
        if ((thanos.get("downsample") or {}).get("resolution") or 0) != 0:
            continue
        stats = meta.get("stats")
        if stats is not None and stats.get("numChunks", 1) == 0:
            continue
        if min_age_ms is not None:
            import time as _time
            now = now_ms if now_ms is not None else int(_time.time() * 1000)
            if int(meta.get("maxTime", 0)) > now - min_age_ms:
                continue
        labels = block_external_labels(meta)
        if ext_label_matchers and not all(
                _matcher_pred(op, value)(labels.get(name, ""))
                for name, op, value in ext_label_matchers):
            continue
        key = str(external_labels_hash(labels))
        st = out.setdefault(key, {"labels": labels, "blocks": [],
                                  "mint": 1 << 62, "maxt": -(1 << 62)})
        st["blocks"].append(b)
        st["mint"] = min(st["mint"], int(meta["minTime"]))
        st["maxt"] = max(st["maxt"], int(meta["maxTime"]))
    for st in out.values():
        st["blocks"].sort()
    return out


# --------------------------------------------------- block → samples df
def block_chunk_work(block_dir: str, min_ms: int | None = None,
                     max_ms: int | None = None,
                     matchers: dict[str, str] | None = None) -> list[dict]:
    """Driver-side compile: one work row per live chunk —
    {labels, seg (segment file path), offset, mint, maxt, dranges}.
    Tombstoned intervals ride along; fully-deleted chunks are dropped
    here so executors never fetch them (the reference's tombstone-aware
    ChunkSeriesSet does the same), and an optional [min_ms, max_ms) window
    prunes non-overlapping chunks from the index metas — the reference's
    chunk-range pruning, no data touched for skipped chunks.
    ``matchers`` (label equality, e.g. {"__name__": "up"}) select series
    through the postings index — the PostingsForMatchers fast path — so
    a targeted backfill never reads non-matching series entries or
    chunks."""
    block_dir = block_dir.rstrip("/")
    idx = read_index(block_dir)
    stones = read_tombstones(block_dir)
    work: list[dict] = []
    for sref in idx.postings_for_matchers(matchers or {}):
        labels, chunks = idx.series(sref)
        dranges = stones.get(sref, [])
        for cref, mint, maxt in chunks:
            if any(dm <= mint and maxt <= dx for dm, dx in dranges):
                continue  # whole chunk deleted
            if min_ms is not None and maxt < min_ms:
                continue
            if max_ms is not None and mint >= max_ms:
                continue
            seq, off = cref >> 32, cref & 0xFFFFFFFF
            work.append({
                "labels": labels,
                "seg": f"{block_dir}/chunks/{seq + 1:06d}",
                "offset": off, "mint": mint, "maxt": maxt,
                "dranges": [{"mint": dm, "maxt": dx}
                            for dm, dx in dranges] or None,
            })
    return work


_SAMPLES_SCHEMA = ("labels map<string,string>, ts long, value double, "
                   "hist struct<count:double,sum:double,"
                   "buckets:array<struct<le:double,count:double>>,"
                   "schema:int>")


def _assign_bands(work: list[dict], band_chunks: int) -> int:
    """Driver-side I/O plan: sort work rows by (seg, offset), cut each
    segment's rows into contiguous bands of ``band_chunks``, and stamp
    every row with its ``band`` id and the band's exclusive byte ``end``
    = the NEXT band's first chunk offset (None = read to EOF, exact for
    the segment's last band since the file ends after the last chunk's
    CRC).  Chunk offsets strictly increase and a chunk always ends at or
    before the next chunk's offset, so ``[first offset, end)`` fully
    contains every chunk of the band — bands collectively read each
    segment EXACTLY once (disjoint spans), the property the reference's
    gap-based page partitioner has (search/partitioner.go:38-66).
    Mutates ``work``; returns the total band count."""
    from itertools import groupby
    work.sort(key=lambda w: (w["seg"], w["offset"]))
    nbands = 0
    for _seg, rows_it in groupby(work, key=lambda w: w["seg"]):
        rows = list(rows_it)
        for b in range(-(-len(rows) // band_chunks)):
            band, nxt = rows[b * band_chunks:(b + 1) * band_chunks], \
                (b + 1) * band_chunks
            end = rows[nxt]["offset"] if nxt < len(rows) else None
            for w in band:
                w["band"] = nbands + b
                w["end"] = end
        nbands += -(-len(rows) // band_chunks)
    return nbands


def tsdb_block_samples(spark, block_dir: str,
                       verify_crc: bool = True,
                       min_ms: int | None = None,
                       max_ms: int | None = None,
                       matchers: dict[str, str] | None = None,
                       band_chunks: int = 512,
                       io_trace_dir: str | None = None):
    """Ingest one TSDB block as a samples DataFrame
    (labels, ts, value, hist) — the input shape convert_samples and the
    PromQL engine take.  See the module docstring for the distribution
    design; ``verify_crc`` checks every chunk's CRC32C (on by default —
    corruption must fail loudly, same as the reference's chunk reader).
    ``band_chunks`` sizes the per-read band (~512 chunks ≈ 60k samples
    ≈ 2 MB decoded); ``io_trace_dir`` makes every executor segment read
    append one JSON line (seg, start, n) there — the instrumentation the
    read-amplification test asserts on.

    Decoding runs via ``mapInArrow`` (not mapInPandas): a pandas float64
    column cannot carry NULL and NaN as distinct values, and the format
    needs both — NULL is the staleness marker, NaN is a real sample."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    work = block_chunk_work(block_dir, min_ms, max_ms, matchers)
    if not work:
        return spark.createDataFrame([], _SAMPLES_SCHEMA)
    nbands = _assign_bands(work, band_chunks)
    wdf = spark.createDataFrame(
        [(w["labels"], w["seg"], w["band"], w["end"], w["offset"],
          w["mint"], w["maxt"], w["dranges"]) for w in work],
        "labels map<string,string>, seg string, band int, end long, "
        "offset long, mint long, maxt long, "
        "dranges array<struct<mint:long,maxt:long>>")
    # one whole band (= one exact-span ranged read) per task group;
    # hash-partition on (seg, band) so a band never splits, capped at 4x
    # parallelism so a billion-chunk block still schedules sanely
    npart = max(1, min(nbands,
                       spark.sparkContext.defaultParallelism * 4))
    wdf = wdf.repartition(npart, "seg", "band")

    hist_t = pa.struct([
        ("count", pa.float64()), ("sum", pa.float64()),
        ("buckets", pa.list_(pa.struct([("le", pa.float64()),
                                        ("count", pa.float64())]))),
        ("schema", pa.int32())])
    out_t = pa.schema([
        ("labels", pa.map_(pa.string(), pa.string())),
        ("ts", pa.int64()), ("value", pa.float64()), ("hist", hist_t)])

    def decode_batches(batches):
        # Group work rows across ALL of the partition's incoming Arrow
        # batches FIRST: Arrow batching (~10k rows/batch) is orthogonal
        # to bands, and grouping per-batch would re-read a band's span
        # once per batch that touches it.  Work rows are metadata (a few
        # hundred bytes each), so materializing the partition's worth is
        # cheap; the DATA stays streamed — one ranged read + one output
        # batch per band (~band_chunks chunks ≈ 2 MB decoded) bounds
        # executor memory however large the partition is.
        by_band: dict[tuple, list[dict]] = {}
        for batch in batches:
            cols = {n: batch.column(n).to_pylist()
                    for n in ("labels", "seg", "band", "end", "offset",
                              "dranges")}
            for i in range(batch.num_rows):
                by_band.setdefault(
                    (cols["seg"][i], cols["band"][i]), []).append(
                    {"labels": cols["labels"][i], "end": cols["end"][i],
                     "offset": cols["offset"][i],
                     "dranges": cols["dranges"][i]})
        for (seg, _band), rows_w in by_band.items():
            rows_w.sort(key=lambda w: w["offset"])
            base = rows_w[0]["offset"]
            buf = _read_segment_span(seg, base, rows_w[0]["end"],
                                     verify_crc, io_trace_dir)
            rows = {"labels": [], "ts": [], "value": [], "hist": []}
            for w in rows_w:
                enc, data, _ = _parse_chunk_at(
                    buf, w["offset"] - base, verify_crc)
                lab = w["labels"]  # [(k, v), ...] from MapArray
                dr = w["dranges"]
                deleted = ([] if dr is None else
                           [(d["mint"], d["maxt"]) for d in dr])
                for t, v in decode_chunk(enc, data):
                    if any(dm <= t <= dx for dm, dx in deleted):
                        continue
                    rows["labels"].append(lab)
                    rows["ts"].append(t)
                    if isinstance(v, dict):
                        rows["value"].append(float("nan"))
                        rows["hist"].append({
                            "count": v["count"], "sum": v["sum"],
                            "buckets": [{"le": le, "count": c}
                                        for le, c in v["buckets"]],
                            "schema": v.get("schema")})
                    else:
                        rows["value"].append(v)
                        rows["hist"].append(None)
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows["labels"], out_t.field("labels").type),
                 pa.array(rows["ts"], pa.int64()),
                 pa.array(rows["value"], pa.float64()),
                 pa.array(rows["hist"], hist_t)], schema=out_t)

    out = wdf.mapInArrow(decode_batches, _SAMPLES_SCHEMA)
    # chunk pruning keeps boundary-straddling chunks; trim them exactly
    if min_ms is not None:
        out = out.filter(F.col("ts") >= min_ms)
    if max_ms is not None:
        out = out.filter(F.col("ts") < max_ms)
    return out


def _read_segment_span(seg: str, start: int, end: int | None,
                       verify_header: bool,
                       io_trace_dir: str | None = None) -> bytes:
    """Read segment bytes ``[start, end)`` in one ranged request
    (``end`` None = to EOF — only the segment's LAST band carries None,
    and the file ends right after that band's final chunk CRC, so even
    that read is exact).  Band bounds are assigned driver-side
    (_assign_bands): spans are disjoint and cover each segment once, so
    total bytes fetched across all tasks ≈ total segment bytes — no
    re-reading of later bands' ranges regardless of how many tasks share
    a segment.  ``io_trace_dir`` (tests/ops) logs one JSON line per
    read."""
    fs, p = _fs_path(seg)
    with fs.open_input_file(p) as f:
        if verify_header:
            hdr = f.read_at(8, 0)
            magic, ver = struct.unpack(">IB", hdr[:5])
            if magic != CHUNKS_MAGIC or ver != CHUNKS_VERSION:
                raise ValueError(f"{seg}: bad chunks segment header")
        n = (f.size() if end is None else end) - start
        buf = f.read_at(n, start)
    if io_trace_dir is not None:
        import json as _json
        import os
        import uuid
        path = f"{io_trace_dir.rstrip('/')}/read-{uuid.uuid4().hex}.json"
        with open(path, "w") as fh:
            _json.dump({"seg": seg, "start": start, "n": len(buf),
                        "pid": os.getpid()}, fh)
    return buf


def tsdb_samples(spark, src: str | None = None, verify_crc: bool = True,
                 min_ms: int | None = None, max_ms: int | None = None,
                 matchers: dict[str, str] | None = None, *,
                 blocks: list[str] | None = None):
    """Samples from EVERY block under ``src`` (one block dir or a parent
    holding several) — or from an explicit ``blocks`` dir list (the
    per-stream path: discover_streams groups, this reads one group) —
    unioned.  Overlapping blocks are legal TSDB state and the
    conversion's dropDuplicates handles the overlap, exactly like the
    reference's vertical merge over multiple source blocks.  Blocks
    whose meta.json window misses [min_ms, max_ms) are skipped without
    opening their index."""
    dfs = []
    for b in (blocks if blocks is not None else discover_blocks(src)):
        meta = read_block_meta_json(b)
        if min_ms is not None and meta.get("maxTime", 1 << 62) <= min_ms:
            continue
        if max_ms is not None and meta.get("minTime", 0) >= max_ms:
            continue
        dfs.append(tsdb_block_samples(spark, b, verify_crc, min_ms, max_ms,
                                      matchers))
    if not dfs:
        return spark.createDataFrame([], _SAMPLES_SCHEMA)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def tsdb_source_days(spark, src: str, streams: dict | None = None,
                     **discover_kwargs):
    """Planner source coverage straight from block META files — one tiny
    JSON read per block, NO index or chunk I/O at plan time (the
    reference plans from block metas the same way, convert/plan.go:41-178).
    PER STREAM: blocks are grouped by external-label hash first
    (discover_streams; reference TSDBBlocksStream.DiscoveredDays,
    locate/discover.go:495-516), so the (stream, date, mint, maxt) rows
    this returns anti-join against the converted manifest stream-wise —
    two Prometheis with different external labels plan independently.
    ``discover_kwargs`` pass through (ext_label_matchers, min_age_ms);
    a precomputed ``streams`` dict (discover_streams) skips the walk."""
    from thanos_parquet_gateway_spark.schema import utc_day
    day_ms = 86_400_000
    rows = []
    if streams is None:
        streams = discover_streams(src, **discover_kwargs)
    for skey, st in streams.items():
        for b in st["blocks"]:
            meta = read_block_meta_json(b)
            mint, maxt = int(meta["minTime"]), int(meta["maxTime"])
            day = mint - mint % day_ms  # meta window is [mint, maxt)
            while day < maxt:
                rows.append((skey, utc_day(day), max(mint, day),
                             min(maxt - 1, day + day_ms - 1)))
                day += day_ms
    df = spark.createDataFrame(
        rows or [], "stream string, date string, mint long, maxt long")
    from pyspark.sql import functions as F
    return (df.groupBy("stream", "date")
            .agg(F.min("mint").alias("mint"), F.max("maxt").alias("maxt"))
            .select("date", "mint", "maxt", "stream"))


def convert_tsdb_block(spark, block_dir: str, out_path: str, *,
                       stream: str = "0", **kwargs):
    """End-to-end B1 parity: Prometheus block dir → the partitioned
    samples table (reference convert/convert.go:353-396 feeding the same
    conversion pipeline).  Returns the conversion manifest."""
    from thanos_parquet_gateway_spark.convert.convert import convert_samples
    samples = tsdb_samples(spark, block_dir)
    return convert_samples(samples, out_path, stream=stream, **kwargs)


def convert_tsdb_streams(spark, src: str, out_path: str, *,
                         ext_label_matchers=None, min_age_ms=None,
                         now_ms=None,
                         min_ms: int | None = None,
                         max_ms: int | None = None,
                         **kwargs):
    """Multi-stream B15 parity: every stream of TSDB blocks under
    ``src`` → ONE partitioned layout with per-stream ``stream=<hash>``
    prefixes + stream.pb descriptors (reference TSDBDiscoverer grouping,
    locate/discover.go:495-651, keyed per schema/block.go:37-76, feeding
    the same per-stream conversion the parquet path takes).  Blocks from
    two Prometheis with different external labels land in DIFFERENT
    streams, so replica dedup across them stays a query-time decision
    (PromQLEngine streams= + replica_labels=), never a silent convert-
    time merge.  Returns the conversion manifest."""
    streams = discover_streams(src, ext_label_matchers=ext_label_matchers,
                               min_age_ms=min_age_ms, now_ms=now_ms)
    if not streams:
        raise ValueError(f"no convertible TSDB blocks under {src}")
    from thanos_parquet_gateway_spark.convert.convert import convert_streams
    raws = {skey: tsdb_samples(spark, blocks=st["blocks"],
                               min_ms=min_ms, max_ms=max_ms)
            for skey, st in sorted(streams.items())}
    return convert_streams(
        raws, out_path,
        ext_labels={skey: st["labels"] for skey, st in streams.items()},
        **kwargs)
