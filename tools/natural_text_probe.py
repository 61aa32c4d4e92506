#!/usr/bin/env python
"""Punctuated natural-text probe for the documents-based oracle queries
(VERDICT r7 item 7).

The driver corpora and the adversarial probe are mostly delimiter-free
word soup, so several text operators only ever exercise their FALLBACK
branches: sentence_split_udtf degenerates to the fixed 25-word
segmenter (one [.!?]-free span per doc), gopher_quality's stopword rule
is all-false (no "the/of/and..." in the soup vocabulary), and the
quality/readability scores see a single degenerate punctuation regime.
Real pretraining text is the opposite. This probe synthesizes a
deterministic NATURAL corpus — stopword-bearing English-like sentences
terminated by . ! ? and ellipses, multi-line paragraphs with duplicate
lines, hashtags, questions, mixed sentence lengths both under and over
the 25-word segmenter cap — and replays the strict mini-driver compare
(Spark vs DuckDB) for every oracle query whose SQL references
``documents``. The primary branches and the fallback branches must
agree cross-engine on the SAME rows.

Non-documents tables come from the real sf0.001 corpus so join-shaped
queries still run.

    python tools/natural_text_probe.py             # all documents queries
    python tools/natural_text_probe.py gopher ...  # subset
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LANGS = ["en", "de", "zh", "fr", "es"]

# Stopword-rich sentence vocabulary: subjects/verbs/objects plus the
# Gopher rule-7 stop set ("the be to of and that have with") woven into
# every sentence template, so stop_word_hits > 0 is the NORMAL case.
_SUBJECTS = ["the engine", "the planner", "a worker", "the driver",
             "that executor", "the scheduler", "a query", "the shuffle"]
_VERBS = ["writes", "reads", "merges", "sorts", "joins", "scans",
          "batches", "streams"]
_OBJECTS = ["the rows to disk", "a partition of the table",
            "the blocks with checksums", "that file and the index",
            "the columns of the frame", "a spill to be compacted",
            "the stats that have drifted", "an update with the merge"]
_TAILS = ["", " quickly", " in order", " at scale", " with care",
          " before the barrier", " after the exchange", " to be safe"]
_ENDS = [". ", ". ", ". ", "! ", "? ", "... ", ". ", ". "]


def _sentence(i: int) -> str:
    s = (
        _SUBJECTS[i % 8] + " " + _VERBS[(i * 3) % 8] + " "
        + _OBJECTS[(i * 5) % 8] + _TAILS[(i * 7) % 8]
    )
    if i % 11 == 0:
        s = s[0].upper() + s[1:]
    return s + _ENDS[(i * 13) % 8]


def _paragraph(seed: int, n_sent: int) -> str:
    return "".join(_sentence(seed * 17 + j) for j in range(n_sent)).strip()


def build_documents_pdf():
    import pandas as pd

    rows = []

    def add(text, lang=None, source=None):
        i = len(rows)
        rows.append(
            (i, text, lang or LANGS[i % len(LANGS)], source or f"src{i % 10}",
             len(text))
        )

    # 1. bulk: punctuated multi-sentence docs, 3-9 sentences each —
    #    every one exercises the PRIMARY [.!?] split and the stopword
    #    rule (stop hits > 0 by construction).
    for i in range(140):
        add(_paragraph(i, 3 + (i * 7) % 7))
    # 2. multi-line paragraphs with DUPLICATE lines (dup_line_frac > 0)
    for i in range(12):
        p1 = _paragraph(200 + i, 2)
        p2 = _paragraph(300 + i, 3)
        add(p1 + "\n" + p2 + "\n" + p1)
    # 3. long sentences straddling the 25-word segmenter cap: 23-41
    #    words per sentence (n words + "holds the lock."), so
    #    udtf_sentences runs BOTH the punctuation split AND the
    #    over-cap word chunking on the same doc.
    for i in range(10):
        n = 20 + i * 2  # 20..38 words before the 3-word tail
        long_sent = " ".join(_SUBJECTS[j % 8].split()[0] for j in range(n))
        add(long_sent + " holds the lock. " + _paragraph(400 + i, 2))
    # 4. hashtags and ellipses (Gopher symbol_word_ratio numerators)
    for i in range(6):
        add("#spark #data " + _paragraph(500 + i, 2) + " more to come...")
    # 5. questions/exclamations only
    add("Is the plan cached? Does the filter push down? Can it spill?")
    add("Ship it! Merge the branch! Tag the release!")
    # 6. exact-duplicate cluster of a punctuated doc (dedup structure)
    dup = _paragraph(42, 4)
    for i in range(8):
        add(dup, lang=LANGS[i % 5], source=f"src{i}")
    # 7. near-duplicates: one word changed / one sentence appended
    base = _paragraph(77, 5)
    add(base)
    add(base.replace(" rows ", " cells ", 1))
    add(base + " " + _sentence(999).strip())
    # 8. containment: a doc and its first two sentences
    big = _paragraph(88, 8)
    add(big)
    add("".join(_sentence(88 * 17 + j) for j in range(2)).strip())
    # 9. degenerate punctuation edges
    add("One.")                       # single 1-word sentence
    add("...")                        # ellipsis only
    add("End with no period")         # unterminated final span
    add(".. .. ..")                   # punctuation/space runs
    add("a. b. c. d. e. f. g.")       # many 1-word sentences
    # 10. unicode sentences
    add("数据引擎。 批量处理！ 流式查询？", lang="zh")
    add("Die Straße ist groß. Müller hat das mit dem Plan.", lang="de")
    add("Le café est déjà prêt. L'élève a naïvement fini.", lang="fr")

    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


def main(wanted) -> int:
    from finance_data_pipeline_spark.registry import ORACLES
    from tools.mini_driver import run_probe

    names = sorted(
        n
        for n, sql in ORACLES.items()
        if "documents" in sql and (not wanted or n in wanted)
    )
    return run_probe(
        {"documents": build_documents_pdf()}, names, "natural punctuated text"
    )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
