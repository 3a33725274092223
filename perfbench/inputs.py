"""Seed-driven inputs for the workloads.

The program never sees the seed: it receives a ``documents.parquet`` that
this module renders from the seed, and IceTable snapshots built from it.

The documents match the ``documents`` table the repository's tests and its
``sf0.1`` data set use (doc_id, text, lang, source, n_chars). Measured over
the 5000 rows of that table (the 500 rows of sf0.001 and sf0.01 agree):

- words per document: uniform on 10..99 (quartiles 32 / 54 / 76, mean 54.1);
  each word drawn uniformly from the same 30 lowercase words (mean word
  length 4.5 characters), joined by single spaces; 297 characters per
  document on average (44..577);
- 5% of documents are near-duplicates: another document's text plus the
  word ``dup``;
- ``lang``: ``en`` 41%, ``zh``, ``de``, ``fr``, ``es`` about 15% each;
- ``source``: ``src<doc_id mod 20>``; ``n_chars`` is the length of ``text``.

Text therefore has no ``<``, ``|``, ``@``, ``&`` or newline, which the
payload templates in ``sources/transcripts.py`` rely on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 99
DUP_FRAC = 0.05
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SOURCES = 20


def documents(seed: int, n_docs: int, id_stride: int = 1) -> pa.Table:
    """``n_docs`` documents rendered from ``seed``. ``doc_id`` steps by
    ``id_stride``; a stride of 3 keeps every turn in the plain-text family
    (the transcript builders pick the payload family by ``doc_id % 3``)."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, n_docs)
    word_ids = rng.integers(0, len(VOCAB), int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)[word_ids]
    bounds = np.concatenate(([0], np.cumsum(n_words)))
    texts = [" ".join(vocab[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
    dups = np.flatnonzero(rng.random(n_docs) < DUP_FRAC)
    for i, src in zip(dups, rng.integers(0, n_docs, len(dups))):
        texts[i] = texts[src] + " dup"
    doc_ids = np.arange(n_docs, dtype=np.int64) * id_stride
    langs = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(list(langs), pa.string()),
            "source": pa.array([f"src{d % SOURCES}" for d in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(path: str, table: pa.Table) -> str:
    """Write ``<path>/documents.parquet`` and return ``path``, the ``sf_dir``
    that ``sources.transcripts`` builders read."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return path


def render_payload(doc: dict) -> tuple[str, str]:
    """The ``(text, tool)`` payload ``build_transcripts`` renders in Spark for
    one document, rendered in Python from the same template pieces."""
    from deepdoctection_spark.sources.transcripts import HTML_PAYLOAD, PDFISH_PAYLOAD

    cols = {"d": str(doc["doc_id"]), "t": doc["text"], "l": doc["lang"], "s": doc["source"]}
    mod = doc["doc_id"] % 3
    if mod == 0:
        return doc["text"], ""
    pieces = HTML_PAYLOAD if mod == 1 else PDFISH_PAYLOAD
    text = "".join(v if kind == "lit" else cols[v] for kind, v in pieces)
    return text, ("browser" if mod == 1 else "pdf_reader")
