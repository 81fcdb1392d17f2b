"""Seeded benchmark inputs, written as parquet with pyarrow.

Two corpora, each a pure function of the seed and its size:

* ``interleaved``: the north-rule table ``(doc_id, spans)``, a
  vectorised numpy replica of
  ``schematic_spark.generator.interleaved_documents``. The replica
  follows the generator's Lehmer arithmetic step for step, so row ``i``
  equals ``expected_doc(i, GeneratorConfig(n, seed))`` (pinned by
  ``test_perfbench.py``), but it takes about a second where the Spark
  generator takes tens. Beside it: a baseline snapshot under another
  seed (for drift) and the media dimension.
* ``documents``: a text corpus shaped like the sf0.1 ``documents``
  table: ``(doc_id, text, lang, source, n_chars)``, 10-100 words from
  the same 30-word vocabulary, ``src{i % 20}`` sources, 5 % near
  duplicates (a copy of another document plus the token ``dup``) and
  0.16 % exact duplicates. One file, one row group.

Inputs are cached under ``<work>/inputs/<name>-<seed>-<size>`` and
reused by later runs with the same seed and size.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_M = 2147483647
_A = 48271
_B = 16807
MAX_SPANS = 8

# GeneratorConfig defaults (schematic_spark/generator.py), per mille
_HOT_SHARE = 200
_RATES = {"dup": (1, 20), "dangling": (2, 20), "out_of_order": (3, 20),
          "bad_kind": (4, 20), "empty_text": (5, 20), "oversized": (6, 10)}

SPAN_TYPE = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
INTERLEAVED_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(SPAN_TYPE)),
])

VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016


def generator_seed(seed: int) -> int:
    """Map any CLI seed onto the generator's int64-safe salt range."""
    return 1 + seed % 1_000_003


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    return (x * _A + salt * _B) % _M


def _rate_hit(doc: np.ndarray, klass: int, millis: int, seed: int):
    return _mix(_mix(doc, seed), 900 + klass) % 1000 < millis


def media_refs(media_ids: np.ndarray) -> np.ndarray:
    """``media_uuid`` for each id, as an object array of strings."""
    h1 = _mix(media_ids, 11)
    h2 = _mix(media_ids, 12) % 65536
    h3 = _mix(media_ids, 13) % 65536
    h4 = _mix(media_ids, 14) % 65536
    h5 = (_mix(media_ids, 15) % 65536) * 2147483648 + _mix(media_ids, 16)
    return np.array([
        f"{a:08x}-{b:04x}-{c:04x}-{d:04x}-{e:012x}"
        for a, b, c, d, e in zip(h1.tolist(), h2.tolist(), h3.tolist(),
                                 h4.tolist(), h5.tolist())
    ], dtype=object)


def interleaved_table(n_docs: int, seed: int, n_media: int) -> pa.Table:
    """Rows ``0..n_docs-1`` of ``interleaved_documents`` for ``seed``."""
    i = np.arange(n_docs, dtype=np.int64)
    hit = {k: (lambda x, c=c, m=m: _rate_hit(x, c, m, seed))
           for k, (c, m) in _RATES.items()}
    dup = hit["dup"](i) & (i > 0)
    eff = np.where(dup, i - 1, i)
    eff_base = _mix(eff % _M, seed)

    hot = _mix(eff, 2) % 1000 < _HOT_SHARE
    prefix = _mix(eff, 3) % 50
    doc_id = [
        f"hot-{e}" if h else f"p{p:02d}-{e}"
        for e, h, p in zip(eff.tolist(), hot.tolist(), prefix.tolist())
    ]

    n_spans = np.where(hit["oversized"](eff), MAX_SPANS + 5,
                       eff_base % (MAX_SPANS + 1))
    offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    doc = np.repeat(np.arange(n_docs), n_spans)
    j = np.arange(len(doc), dtype=np.int64) - offsets[doc]
    base = eff_base[doc]
    is_text = j % 2 == 0
    h = _mix(base + j * 131, 7)

    kind = np.where(is_text, "text", "media").astype(object)
    kind[hit["bad_kind"](eff)[doc] & (j == 0)] = "bogus"

    texts = np.array([f"tok{a} " + "x" * (b + 1)
                      for a in range(97) for b in range(20)], dtype=object)
    text = texts[(h % 97) * 20 + h % 20]
    text[hit["empty_text"](eff)[doc] & (j == 0)] = ""

    dangling = hit["dangling"](eff)[doc] & (j == 1)
    media_id = np.where(dangling, n_media + h % 1000, h % n_media)
    refs = media_refs(np.arange(n_media + 1000, dtype=np.int64))
    media_ref = refs[media_id]

    offset = np.where(hit["out_of_order"](eff)[doc], 0,
                      j * 7 + _mix(base + j, 8) % 3).astype(np.int32)
    spans = pa.StructArray.from_arrays(
        [pa.array(kind, pa.string()),
         pa.array(text, pa.string(), mask=~is_text),
         pa.array(media_ref, pa.string(), mask=is_text),
         pa.array(offset, pa.int32())],
        fields=list(SPAN_TYPE),
    )
    return pa.table(
        [pa.array(doc_id, pa.string()),
         pa.ListArray.from_arrays(pa.array(offsets), spans)],
        schema=INTERLEAVED_SCHEMA,
    )


def media_table(n_media: int) -> pa.Table:
    ids = np.arange(n_media, dtype=np.int64)
    return pa.table({"media_id": ids, "media_ref": media_refs(ids)})


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """The sf0.1-shaped text corpus (see the module docstring)."""
    rng = np.random.default_rng(seed)
    n_tok = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(n_tok.sum()))
    cuts = np.concatenate([[0], np.cumsum(n_tok)])
    text = [" ".join(VOCAB[w] for w in words[cuts[d]:cuts[d + 1]])
            for d in range(n_docs)]
    n_near = max(1, round(n_docs * NEAR_DUP_SHARE))
    n_exact = max(1, round(n_docs * EXACT_DUP_SHARE))
    copies = rng.choice(n_docs, n_near + n_exact, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), copies)
    for k, d in enumerate(copies.tolist()):
        src = text[int(rng.choice(originals))]
        text[d] = src + " dup" if k < n_near else src
    lang = rng.choice(np.array(LANGS, dtype=object), n_docs, p=LANG_P)
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{d % 20}" for d in range(n_docs)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def _write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step),
                       f"{path}/part-{f:05d}.parquet",
                       row_group_size=max(step, 1))


def materialize(work: str, name: str, seed: int, size: int, n_files: int,
                build) -> str:
    """Return ``<work>/inputs/<name>-<seed>-<size>-<n_files>``, calling
    ``build(tmp_dir)`` first unless a complete copy exists."""
    path = f"{work}/inputs/{name}-{seed}-{size}-{n_files}"
    if os.path.exists(f"{path}/_SUCCESS"):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(f"{tmp}/_SUCCESS", "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def build_interleaved(n_docs: int, seed: int, n_media: int, n_files: int):
    """Writer for the validate/checkpoint inputs: ``docs`` (n_files
    files), ``base`` (another seed, same size) and ``media``."""
    g = generator_seed(seed)

    def build(tmp: str) -> None:
        _write_files(interleaved_table(n_docs, g, n_media),
                     f"{tmp}/docs", n_files)
        _write_files(interleaved_table(n_docs, g + 1_000_003, n_media),
                     f"{tmp}/base", n_files)
        _write_files(media_table(n_media), f"{tmp}/media", 1)
    return build


def build_documents(n_docs: int, seed: int):
    def build(tmp: str) -> None:
        _write_files(documents_table(n_docs, seed), f"{tmp}/documents", 1)
    return build
