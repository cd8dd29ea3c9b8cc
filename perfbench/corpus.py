"""Seeded ingest corpus and the NLP stub's entity rule.

Both the load process (which serves the corpus from the source index and
answers the NLP calls) and the benchmark driver (which checks the sink)
build the corpus from the same seed, so neither ships it to the other.
The NLP stub answers with ``DeterministicFakeAnnotator``'s MedCAT envelope
(0–3 entities per doc), which ``medcat_entities_oracle_sql`` recomputes in
DuckDB for the check.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

from annotations_ingester_spark.annotator.fake import medcat_envelope
from annotations_ingester_spark.types import MIN_TEXT_LEN

WORDS = (
    "patient denies chest pain fever cough dyspnoea history of hypertension "
    "diabetes mellitus type two prescribed metformin aspirin daily review in "
    "clinic follow up bloods normal renal function stable no acute distress "
    "abdomen soft non tender plan discharge home with advice"
).split()
DOC_ID_BASE = 100_000


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str | None
    dct: str

    @property
    def valid(self) -> bool:
        """Passes the pipeline's text filter, so the NLP service sees it."""
        return self.text is not None and len(self.text) >= MIN_TEXT_LEN

    def source(self) -> dict:
        d = {"doc_id": self.doc_id, "dct": self.dct}
        if self.text is not None:
            d["text"] = self.text
        return d


def make_corpus(seed: int, n: int) -> list[Doc]:
    """``n`` docs with unique texts of 60–600 characters. One doc in fifty
    has no text or a text too short to annotate, so the filter has work.

    Text lengths are drawn so that each run of four docs covers every
    ``len % 4`` once, in seeded order: the medcat rule's entity count is
    ``len % 4``, so every seed yields the same number of docs with 0, 1, 2
    and 3 entities, and any leading share of the corpus keeps that mix."""
    rng = random.Random(seed)
    docs: list[Doc] = []
    seen: set[str] = set()
    residues: list[int] = []
    for i in range(n):
        if not residues:
            residues = rng.sample(range(4), 4)
        residue = residues.pop()
        doc_id = DOC_ID_BASE + i
        dct = f"2024-{1 + i % 12:02d}-{1 + i % 28:02d}"
        if i % 50 == 7:
            docs.append(Doc(doc_id, None if i % 100 == 7 else "abc", dct))
            continue
        while True:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 90))]
            text = f"note {doc_id}: " + " ".join(words)
            text += "." * ((residue - len(text)) % 4)
            if text not in seen:
                break
        seen.add(text)
        docs.append(Doc(doc_id, text, dct))
    return docs


def response_bytes(doc: Doc) -> bytes:
    """The NLP stub's reply body for ``doc``."""
    return json.dumps(medcat_envelope(doc.doc_id, doc.text)).encode()


def row_id(doc_id: int, ann_id: int) -> str:
    """The pipeline's sink id, ``synth_row_id``'s ``doc-{docid}-ann-{annid}``."""
    return f"doc-{doc_id}-ann-{ann_id}"


def doc_of(rid: str) -> int:
    return int(rid.split("-")[1])


def medcat_rows(docs: list[Doc]) -> set[str]:
    """Expected sink ids under the medcat rule, recomputed in DuckDB by the
    package's oracle SQL over the valid docs."""
    import duckdb
    import pandas as pd

    from annotations_ingester_spark.annotator.fake import medcat_entities_oracle_sql

    valid = pd.DataFrame(
        {"doc_id": [d.doc_id for d in docs if d.valid], "text": [d.text for d in docs if d.valid]}
    )
    con = duckdb.connect()
    try:
        con.register("corpus", valid)
        rows = con.execute(
            f"SELECT doc_id, ann_id FROM ({medcat_entities_oracle_sql('SELECT * FROM corpus')})"
        ).fetchall()
    finally:
        con.close()
    return {row_id(d, a) for d, a in rows}
