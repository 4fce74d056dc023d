"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and returns plain Python data; the
program under test only ever sees what these build. The same seed always
gives the same inputs.

Shapes are chosen so that the *cost-relevant* properties do not move with
the seed: the first claim of every export carries the longest arrays and
every map key, so the flatten plan has the same width on every seed, and
each corpus has the same document count and the same planted duplicate
shares. The seed varies the contents only.
"""

from __future__ import annotations

import datetime
import json
import random
import string
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Claim documents (export_paged) — the FIXTURES.md §A2 shape, scaled down
# ---------------------------------------------------------------------------

#: config subtrees per claim; each carries edit and price output arrays
CONFIGS = ("userConfiguration1", "userConfiguration2", "medicareConfig")
#: longest arrays of objects (outer) and their nested message arrays (inner)
MAX_CLAIM_LINES = 6
MAX_OUTPUT_LINES = 4
MAX_MESSAGES = 2
MAX_HEADER_EDITS = 2
#: value-code keys, several all-digit (the reference's quirk Q1 input)
VALUE_CODE_KEYS = ("01", "45", "80", "A2", "B7", "D3")
_STR_FIELDS = (
    "admissionDate", "admitType", "billType", "claimType", "clientCode",
    "dischargeStatus", "facilityNpi", "patientControlNumber", "payerCode",
    "principalDxCode", "processedDateTimeUtc", "providerState", "sex",
    "sourceSystem", "typeOfBill",
)
_LONG_FIELDS = ("age", "claimLinesCount", "editCount", "elapsedMilliseconds")
_DOUBLE_FIELDS = ("totalAllowedAmount", "totalBasePrice", "totalCharges", "totalFinalPrice")
_BOOL_FIELDS = ("isClaimManuallyProcessed", "isCurrentReprocessedClaim")


def _word(rng: random.Random, n: int = 6) -> str:
    return "".join(rng.choice(string.ascii_uppercase + string.digits) for _ in range(n))


def _money(rng: random.Random) -> float:
    # two decimals below 1e6: Python str() and the JVM print these alike
    return round(rng.uniform(1.0, 99999.0), 2)


def _edit(rng: random.Random, with_state: bool) -> dict:
    e = {
        "editId": _word(rng, 5),
        "editMsgText": f"edit {_word(rng, 4)} applied",
        "editDisposition": rng.randint(0, 9),
        "isAnalyticsOnly": rng.random() < 0.5,
    }
    if with_state:
        e["stateCode"] = rng.choice(("CA", "NY", "TX", "WA"))
    return e


def _price(rng: random.Random) -> dict:
    return {
        "pricerId": _word(rng, 4),
        "msgText": f"priced {_word(rng, 3)}",
        "charges": _money(rng),
        "finalPrice": _money(rng),
    }


def _n(rng: random.Random, top: int, full: bool) -> int:
    return top if full else rng.randint(1, top)


def _config(rng: random.Random, full: bool) -> dict:
    out_lines = _n(rng, MAX_OUTPUT_LINES, full)
    return {
        "claimProcessingStatus": rng.choice(("PROCESSED", "PENDED", "DENIED")),
        "configurationNumber": _word(rng, 4),
        "editCount": rng.randint(0, 20),
        "isValid": rng.random() < 0.9,
        "totalFinalPrice": _money(rng),
        "rawClaimOutput": {
            "finalConfiguration": {"configurationNumber": _word(rng, 4), "configurationVersion": rng.randint(1, 9)},
            "editOutput": {
                "header": [_edit(rng, False) for _ in range(_n(rng, MAX_HEADER_EDITS, full))],
                "lines": [
                    {
                        "lineNumber": i + 1,
                        "messages": [_edit(rng, True) for _ in range(_n(rng, MAX_MESSAGES, full))],
                    }
                    for i in range(out_lines)
                ],
            },
            "priceOutput": {
                "header": [_price(rng)],
                "lines": [
                    {
                        "lineNumber": i + 1,
                        "messages": [_price(rng) for _ in range(_n(rng, MAX_MESSAGES, full))],
                    }
                    for i in range(out_lines)
                ],
            },
        },
    }


def claim(rng: random.Random, claim_id: int, ts: datetime.datetime, full: bool) -> dict:
    """One claim document. ``full`` gives every array its maximum length and
    every map key, which pins the union schema of any batch containing it."""
    keys = VALUE_CODE_KEYS if full else [k for k in VALUE_CODE_KEYS if rng.random() < 0.5]
    doc: dict = {
        "claimRequestId": claim_id,
        "auditProcessedDateTimeUtc": ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
    }
    for f in _STR_FIELDS:
        doc[f] = _word(rng, 8)
    for f in _LONG_FIELDS:
        doc[f] = rng.randint(0, 10_000)
    for f in _DOUBLE_FIELDS:
        doc[f] = _money(rng)
    for f in _BOOL_FIELDS:
        doc[f] = rng.random() < 0.5
    doc["headerLookupFields"] = {"LengthOfStay": rng.randint(0, 30)}
    doc["valueCodes"] = {k: [_money(rng) for _ in range(rng.randint(1, 2))] for k in keys}
    doc["secondaryDxCodes"] = [_word(rng, 5) for _ in range(rng.randint(0, 4))]
    # primitive array with empty strings, as in the golden document
    doc["secondaryPresentOnAdmissions"] = [rng.choice(("Y", "N", "")) for _ in range(rng.randint(0, 4))]
    doc["lines"] = [
        {
            "lineNumber": i + 1,
            "procedureCode": _word(rng, 5),
            "charge": _money(rng),
            "units": rng.randint(1, 5),
            "modifiers": [rng.choice(("25", "59", "")) for _ in range(rng.randint(0, 2))],
        }
        for i in range(_n(rng, MAX_CLAIM_LINES, full))
    ]
    for c in CONFIGS:
        doc[c] = _config(rng, full)
    return doc


def claim_envelopes(seed: int, n_docs: int, docs_per_response: int) -> list[str]:
    """``n_docs`` claims as Elasticsearch search-response envelopes, one
    JSON line per response (``hits.hits[*]._source``). The cursor fields
    ``(auditProcessedDateTimeUtc, claimRequestId)`` are unique and shuffled
    across responses, so pagination has real sorting to do."""
    rng = random.Random(seed)
    base = datetime.datetime(2025, 6, 1, tzinfo=datetime.timezone.utc)
    docs = [
        claim(rng, 1_000_000 + i, base + datetime.timedelta(seconds=7 * i + rng.randint(0, 5)), full=(i == 0))
        for i in range(n_docs)
    ]
    rng.shuffle(docs)
    lines = []
    for start in range(0, n_docs, docs_per_response):
        hits = [
            {"_index": "rta_claim_headers-2025.06", "_id": str(d["claimRequestId"]), "_score": None, "_source": d}
            for d in docs[start : start + docs_per_response]
        ]
        env = {
            "took": rng.randint(1, 50),
            "timed_out": False,
            "_shards": {"total": 1, "successful": 1, "skipped": 0, "failed": 0},
            "hits": {"total": {"value": len(hits), "relation": "eq"}, "max_score": None, "hits": hits},
        }
        lines.append(json.dumps(env))
    return lines


# ---------------------------------------------------------------------------
# Text corpus (dedup_corpus, index_ingest)
# ---------------------------------------------------------------------------

#: vocabulary size and words per document
VOCAB = 4000
WORDS_MIN, WORDS_MAX = 40, 80


@dataclass(frozen=True)
class CorpusDoc:
    doc_id: int
    text: str
    #: ``original`` for fresh text, else ``exact`` / ``near`` copy
    kind: str
    #: doc_id of the original a planted copy was made from (own id if fresh)
    origin: int


class CorpusGen:
    """Stream of corpus documents with planted exact and near copies at
    fixed shares: in every run of ten documents, ``exact_in_10`` are exact
    copies and ``near_in_10`` are near copies of an earlier fresh document
    (chosen by the seed). Near copies swap ``near_swaps`` words, so their
    text always differs from the original's. All non-exact texts are
    distinct (checked), so the exact-duplicate count of any prefix of the
    stream is known."""

    def __init__(self, seed: int, exact_in_10: int, near_in_10: int, near_swaps: int = 3):
        self.rng = random.Random(seed)
        self.exact_in_10 = exact_in_10
        self.near_in_10 = near_in_10
        self.near_swaps = near_swaps
        self.vocab = [_vocab_word(self.rng) for _ in range(VOCAB)]
        self.originals: list[CorpusDoc] = []
        self.seen: set[str] = set()
        self.next_id = 1

    def _distinct(self, text: str) -> bool:
        if text in self.seen:
            return False
        self.seen.add(text)
        return True

    def _fresh_text(self) -> str:
        while True:
            n = self.rng.randint(WORDS_MIN, WORDS_MAX)
            text = " ".join(self.rng.choice(self.vocab) for _ in range(n))
            if self._distinct(text):
                return text

    def _near_text(self, text: str) -> str:
        while True:
            words = text.split(" ")
            for i in self.rng.sample(range(len(words)), self.near_swaps):
                old = words[i]
                while words[i] == old:
                    words[i] = self.rng.choice(self.vocab)
            near = " ".join(words)
            if self._distinct(near):
                return near

    def doc(self) -> CorpusDoc:
        doc_id = self.next_id
        self.next_id += 1
        slot = (doc_id - 1) % 10
        if self.originals and slot < self.exact_in_10:
            src = self.rng.choice(self.originals)
            return CorpusDoc(doc_id, src.text, "exact", src.doc_id)
        if self.originals and slot < self.exact_in_10 + self.near_in_10:
            src = self.rng.choice(self.originals)
            return CorpusDoc(doc_id, self._near_text(src.text), "near", src.doc_id)
        d = CorpusDoc(doc_id, self._fresh_text(), "original", doc_id)
        self.originals.append(d)
        return d

    def batch(self, n: int) -> list[CorpusDoc]:
        return [self.doc() for _ in range(n)]


def _vocab_word(rng: random.Random) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 9)))
