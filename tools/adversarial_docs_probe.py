#!/usr/bin/env python
"""Adversarial degenerate-shape probe for every documents- and
embeddings-based oracle query.

Companion to tools/adversarial_bars_probe.py (which covers the
bar/stocks families and found 9 latent signed-zero / ANSI-division
bugs). The driver corpora are clean word-soup: no empty or
whitespace-only texts, no exact-duplicate or containment pairs, no
unicode, no tied lengths, no zero-norm / duplicate / NULL embeddings.
Real 100 TB corpora contain ALL of those. This probe CONCENTRATES
them: it synthesizes a documents table (empty/whitespace/single-char
docs, exact-dup clusters spanning sources, near-dups differing by one
token, prefix containment, repeated-token spans, punctuation/digit-only
docs, CJK/emoji/accent unicode, heavy n_chars ties) and an embeddings
table (zero vectors, exact-dup clusters, 1e-7 near-dups, negated
pairs, one-hot axes, -0.0 components, tiny norms, NULL embeddings,
a NULL and a singleton label) — then replays the mini-driver compare
(strict signbit-sensitive comparator) for every oracle query whose
SQL references either table, Spark vs DuckDB on the same parquet.

Anything that diverges here is a latent driver red row waiting for
data the fixed test corpus doesn't contain. Run after touching
text/dedup/similarity expressions:

    python tools/adversarial_docs_probe.py             # all queries
    python tools/adversarial_docs_probe.py lang_id ... # subset
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LANGS = ["en", "de", "zh", "fr", "es"]
WORDS = (
    "the fast key order sort table scan merge part window small hash "
    "join batch stream spark dup group query row data slow filter "
    "customer line value agg column vector big a"
).split()
DIM = 64
N_VEC = 240


def _soup(i: int, n: int) -> str:
    """Deterministic word-soup of n tokens, seeded by index arithmetic."""
    return " ".join(WORDS[(i * 7 + j * 13) % len(WORDS)] for j in range(n))


def build_documents_pdf():
    import pandas as pd

    rows = []

    def add(text, lang=None, source=None):
        i = len(rows)
        rows.append(
            (
                i,
                text,
                lang or LANGS[i % len(LANGS)],
                source or f"src{i % 10}",
                len(text),
            )
        )

    # 1. ordinary soup docs so aggregates/strata have bulk
    for i in range(120):
        add(_soup(i, 20 + (i * 11) % 60))
    # 2. exact-duplicate cluster: same text, 10 copies across langs/sources
    dup = _soup(3, 40)
    for i in range(10):
        add(dup, lang=LANGS[i % 5], source=f"src{i}")
    # 3. a second dup cluster confined to one (lang, source) stratum
    dup2 = _soup(5, 25)
    for _ in range(6):
        add(dup2, lang="en", source="src0")
    # 4. near-dups: one token changed / one appended / one dropped
    base = _soup(9, 50)
    add(base)
    add(base.replace(" key ", " lock ", 1))
    add(base + " extra")
    add(base.rsplit(" ", 1)[0])
    # 5. containment: prefix / suffix / interior substring
    long = _soup(13, 120)
    add(long)
    add(" ".join(long.split()[:30]))
    add(" ".join(long.split()[-30:]))
    add(" ".join(long.split()[40:70]))
    # 6. degenerate texts
    add("")  # empty
    add("")  # empty twice (dup of empty)
    add("   ")  # spaces only
    add("\n\t \n")  # whitespace mix
    add("a")  # single char
    add("spark")  # single token
    add("!!! ??? ... ;;; ---")  # punctuation only
    add("123 4567 89 0 42 42 42")  # digits only
    add("batch " * 50)  # one token repeated (trailing space)
    add(("the quick brown fox. " * 12).strip())  # repeated sentence spans
    add("word," + "word," * 199)  # no spaces, comma-joined
    # 7. unicode: CJK, accents, emoji, combining marks
    add("数据 处理 引擎 批量 流式 数据 数据 数据", lang="zh")
    add("schnelle straße größe müller äöü ß", lang="de")
    add("café déjà vu naïve façade élève", lang="fr")
    add("mañana niño corazón rápido", lang="es")
    add("rocket 🚀 stream 🚀🚀 data ✨ done", lang="en")
    add("élève combining", lang="fr")  # NFD combining accents
    # 8. extremes: very long doc, and many docs with IDENTICAL n_chars
    add(_soup(17, 1200))  # ~5-6k chars
    tie = _soup(21, 30)
    assert len(tie) > 0
    for i in range(12):  # 12 docs, same length, different text
        t = _soup(100 + i, 30)
        t = (t + " " + "x" * len(tie))[: len(tie)]
        add(t)
    # 9. same text under every lang (stratification edge)
    same = _soup(29, 35)
    for lg in LANGS:
        add(same, lang=lg, source="srcX")

    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


def build_embeddings_pdf():
    import numpy as np
    import pandas as pd

    vecs, labels = [], []

    def unit(seed: int) -> "np.ndarray":
        v = np.array(
            [((seed * 31 + j * 17) % 97 - 48) / 48.0 for j in range(DIM)],
            dtype=np.float32,
        )
        n = float(np.sqrt((v.astype(np.float64) ** 2).sum()))
        return (v / n).astype(np.float32) if n else v

    # 1. bulk: 10 label clusters of ordinary vectors
    for i in range(160):
        vecs.append(unit(i))
        labels.append(i % 10)
    # ...with degenerates INSIDE the deterministic seed/query id range
    # (kmeans c0 = ids < 8, PQ c0 = ids < 16, queries = ids < 5): both
    # engines must drop them from seeds and query sets identically
    vecs[3] = np.zeros(DIM, dtype=np.float32)
    vecs[5] = None
    # 2. exact-duplicate cluster (8 copies, mixed labels)
    d = unit(7)
    for i in range(8):
        vecs.append(d.copy())
        labels.append(i % 3)
    # 3. near-dups: 1e-7 perturbation on one component
    for i in range(4):
        v = unit(11).copy()
        v[i] += np.float32(1e-7)
        vecs.append(v)
        labels.append(4)
    # 4. negated pair (cosine exactly -1) and orthogonal one-hots
    vecs.append(unit(19))
    labels.append(5)
    vecs.append(-unit(19))
    labels.append(5)
    for ax in (0, 1, 63):
        e = np.zeros(DIM, dtype=np.float32)
        e[ax] = 1.0
        vecs.append(e)
        labels.append(6)
    # 5. zero vectors (zero-norm cosine convention) and -0.0 components
    for _ in range(3):
        vecs.append(np.zeros(DIM, dtype=np.float32))
        labels.append(7)
    z = np.zeros(DIM, dtype=np.float32)
    z[0] = np.float32(-0.0)
    z[1] = np.float32(1.0)
    vecs.append(z)
    labels.append(7)
    # 6. tiny norms (float32 underflow territory) and a constant vector
    vecs.append(np.full(DIM, 1e-8, dtype=np.float32))
    labels.append(8)
    vecs.append(np.full(DIM, 0.25, dtype=np.float32))
    labels.append(8)
    # 7. pad to N_VEC with more bulk (keeps ids dense for train_n)
    i = 1000
    while len(vecs) < N_VEC - 3:
        vecs.append(unit(i))
        labels.append(i % 10)
        i += 1
    # 8. more NULL embedding rows and degenerate labels at the tail
    vecs.append(None)
    labels.append(9)
    vecs.append(None)
    labels.append(None)  # NULL label too
    vecs.append(unit(999))
    labels.append(11)  # singleton label outside 0..9

    return pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [None if v is None else v.tolist() for v in vecs],
            "label": pd.array(labels, dtype="Int32"),
        }
    )


def build_embeddings_table():
    """``build_embeddings_pdf`` as arrow, so the list column is float32
    like the real corpus (pandas would default to float64)."""
    import pandas as pd
    import pyarrow as pa

    epdf = build_embeddings_pdf()
    return pa.table(
        {
            "vec_id": pa.array(epdf["vec_id"], pa.int64()),
            "embedding": pa.array(epdf["embedding"], pa.list_(pa.float32())),
            "label": pa.array(
                [None if pd.isna(v) else int(v) for v in epdf["label"]],
                pa.int32(),
            ),
        }
    )


def main(wanted) -> int:
    from finance_data_pipeline_spark.registry import ORACLES
    from tools.mini_driver import run_probe

    names = sorted(
        n
        for n, sql in ORACLES.items()
        if ("documents" in sql or "embeddings" in sql)
        and (not wanted or n in wanted)
    )
    tables = {
        "documents": build_documents_pdf(),
        "embeddings": build_embeddings_table(),
    }
    return run_probe(tables, names, "adversarial docs/embeddings")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
