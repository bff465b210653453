"""Seeded corpus generator for the benchmark workloads.

Every corpus is a pure function of ``(kind, seed)``.  It is written as
parquet ``(id long, text string)`` together with the counts the output
checks need: documents, UTF-8 bytes, invalid documents, the expected chunk
count, and the planted exact-copy groups and near-copy pairs.

The text is legal-style prose built from sentences whose token counts the
generator knows, so the expected chunk count comes from an independent fold
over integer token counts, not from running the package's chunker:

* citations and abbreviations (``v.``, ``U.S.``, ``No.``, ``F.2d``) sit
  inside sentences, where the sentence splitter must not break;
* run-on sentences over the 512-token budget take the truncation branch;
* recurring boilerplate sentences come from a small pool, while the number
  of distinct sentences stays far above the chunker's 4096-entry
  token-count cache;
* empty and whitespace-only documents must land in quarantine.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import asdict, dataclass, field

import numpy as np

#: the tokenizer's rule (inception_spark/tokenizer.py), restated as the
#: spec the expected chunk counts are computed against
TOKEN_RE = re.compile("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 \t\n\r\f\x0B]")
MAX_TOKENS = 512
N_OVERLAP = 2  # int(512 * 0.004), the engine's default overlap
LEAD_DOCUMENT = "search_document: "
LEAD_QUERY = "search_query: "


def count_tokens(text: str) -> int:
    return len(TOKEN_RE.findall(text))


LEAD_LEN = count_tokens(LEAD_DOCUMENT)

# Words that end no sentence: the splitter treats them (and any single
# letter) as abbreviations when a period follows.
_ABBREVIATIONS = {
    "mr", "mrs", "ms", "dr", "prof", "rev", "hon", "jr", "sr", "st", "v",
    "vs", "etc", "cf", "al", "inc", "ltd", "co", "corp", "no", "nos", "vol",
    "ch", "sec", "fig", "art", "approx", "dept", "est", "jan", "feb", "mar",
    "apr", "jun", "jul", "aug", "sep", "sept", "oct", "nov", "dec",
}

_VOCAB = [w for w in """
court order filing motion appeal brief judge ruling statute clause party
claim record notice hearing docket opinion review remand vacate plaintiff
defendant evidence testimony jury verdict counsel petition petitioner
respondent appellant appellee district circuit supreme federal state
constitution amendment due process equal protection jurisdiction venue
standing injury damages relief injunction summary judgment dismissal trial
witness exhibit objection sustained overruled precedent holding dicta
majority dissent concurrence remedy contract tort negligence liability duty
breach causation harm property title deed lease tenant landlord easement
zoning permit agency regulation rule section subsection paragraph provision
enacted repealed codified interpreted construed ambiguous plain meaning
legislative history intent purpose text context canon doctrine principle
standard scrutiny rational basis strict intermediate burden proof
preponderance clear convincing reasonable doubt probable cause search
seizure warrant arrest custody miranda counsel waiver plea bargain sentence
guideline departure variance restitution forfeiture habeas corpus collateral
attack procedural default exhaustion tolling limitations laches estoppel
waiver forfeiture the a of to in for on with by under against from between
after before during without within whether which that this those these
because although however therefore thus accordingly moreover further also
not only must may shall would could should will has have had was were is
are been being held found concluded determined reversed affirmed granted
denied argued contends asserts maintains submitted filed served entered
""".split() if w not in _ABBREVIATIONS and len(w) > 1]

_NAMES = [
    "Brown", "Board", "Miranda", "Arizona", "Marbury", "Madison", "Gideon",
    "Wainwright", "Chevron", "Natural", "Erie", "Tompkins", "Celotex",
    "Catrett", "Twombly", "Iqbal", "Terry", "Ohio", "Katz", "Mapp",
    "Strickland", "Washington", "Anderson", "Liberty", "Matsushita",
    "Zenith", "Daubert", "Merrell", "Kumho", "Carmichael",
]
_REPORTERS = ["U.S.", "F.2d", "F.3d", "S.Ct.", "F.Supp.", "L.Ed."]


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one corpus.  Shares are of documents unless named
    otherwise; byte targets are UTF-8 characters (the text is ASCII)."""

    n_docs: int
    body_bytes: int                 # total length of the ordinary documents
    length_sigma: float             # log-normal spread of document lengths
    min_doc_bytes: int
    long_tail_bytes: tuple = ()     # sizes of the multi-MB documents
    invalid_share: float = 0.0      # empty or whitespace-only documents
    exact_copy_share: float = 0.0   # byte-identical copies of another doc
    near_copy_share: float = 0.0    # copies with 1-3 words replaced
    boilerplate_share: float = 0.10  # of sentences
    run_on_share: float = 0.01      # of sentences, each over the budget
    citation_share: float = 0.15    # of sentences
    rows_per_group: int = 64        # parquet row-group size


SPECS = {
    # /embed/batch backfill: long legal documents plus a few multi-MB ones
    "batch_embed": CorpusSpec(
        n_docs=1200, body_bytes=6_000_000, length_sigma=1.0,
        min_doc_bytes=300, long_tail_bytes=(2_000_000, 2_500_000, 3_000_000),
        invalid_share=0.01, exact_copy_share=0.02, near_copy_share=0.02,
    ),
    # the chunk-embedding table the search workload queries
    "query_search": CorpusSpec(
        n_docs=600, body_bytes=4_000_000, length_sigma=0.8,
        min_doc_bytes=300, invalid_share=0.01, exact_copy_share=0.02,
        near_copy_share=0.02,
    ),
    # shorter documents with planted exact and near copies
    "near_dup": CorpusSpec(
        n_docs=5000, body_bytes=5_000_000, length_sigma=0.5,
        min_doc_bytes=600, exact_copy_share=0.05, near_copy_share=0.05,
        boilerplate_share=0.03, run_on_share=0.0,
    ),
}


@dataclass
class Expected:
    """What the generator knows about its corpus."""

    kind: str
    seed: int
    n_docs: int
    n_bytes: int
    n_invalid: int
    n_chunks: int                    # over the valid documents
    n_sentences: int
    n_distinct_sentences: int
    n_run_on: int
    long_tail_ids: list = field(default_factory=list)
    invalid_ids: list = field(default_factory=list)
    exact_groups: list = field(default_factory=list)   # [[id, ...], ...]
    near_pairs: list = field(default_factory=list)     # [[src, copy], ...]
    content_sha256: str = ""


# ---------------------------------------------------------------------------
# sentences
# ---------------------------------------------------------------------------

class _SentenceMaker:
    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = np.array(_VOCAB, dtype=object)

    def _words(self, n: int) -> list[str]:
        return list(self.vocab[self.rng.integers(0, len(self.vocab), n)])

    def citation(self) -> str:
        r = self.rng
        a, b = r.choice(_NAMES, 2, replace=False)
        rep = _REPORTERS[int(r.integers(0, len(_REPORTERS)))]
        if r.random() < 0.2:
            return f"No. {int(r.integers(1, 999))}-{int(r.integers(1000, 9999))}"
        return (
            f"{a} v. {b}, {int(r.integers(1, 999))} {rep} "
            f"{int(r.integers(1, 1999))} ({int(r.integers(1900, 2024))})"
        )

    def sentence(self, citation_share: float) -> str:
        r = self.rng
        words = self._words(int(r.integers(6, 31)))
        if r.random() < citation_share:
            words.insert(int(r.integers(1, len(words) - 1)), self.citation() + ",")
        words[0] = words[0].capitalize()
        end = "?" if r.random() < 0.03 else "."
        return " ".join(words) + end

    def run_on(self) -> str:
        """One sentence of 600-900 tokens: clauses joined by commas and
        semicolons, no sentence boundary inside."""
        r = self.rng
        target = int(r.integers(600, 900))
        clauses, n = [], 0
        while n < target:
            c = " ".join(self._words(int(r.integers(5, 14))))
            clauses.append(c)
            n += count_tokens(c) + 1
        text = clauses[0].capitalize()
        for c in clauses[1:]:
            text += ("; " if r.random() < 0.3 else ", ") + c
        return text + "."


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

@dataclass
class _Doc:
    sentences: list          # sentence strings
    breaks: set              # sentence indices that open a new paragraph

    def text(self) -> str:
        out = []
        for i, s in enumerate(self.sentences):
            if i:
                out.append("\n\n" if i in self.breaks else " ")
            out.append(s)
        return "".join(out)


def _make_doc(maker: _SentenceMaker, spec: CorpusSpec, n_bytes: int,
              boilerplate: list[str]) -> _Doc:
    r = maker.rng
    sentences, breaks, size, next_break = [], set(), 0, int(r.integers(3, 9))
    while size < n_bytes:
        u = r.random()
        if u < spec.run_on_share:
            s = maker.run_on()
        elif u < spec.run_on_share + spec.boilerplate_share:
            s = boilerplate[int(r.integers(0, len(boilerplate)))]
        else:
            s = maker.sentence(spec.citation_share)
        if len(sentences) == next_break:
            breaks.add(len(sentences))
            next_break += int(r.integers(3, 9))
        sentences.append(s)
        size += len(s) + 1
    return _Doc(sentences, breaks)


def _near_copy(maker: _SentenceMaker, src: _Doc) -> _Doc:
    """Replace one word in each of 1-3 sentences with a different word."""
    r = maker.rng
    sentences = list(src.sentences)
    k, edits = int(r.integers(1, 4)), 0
    for i in r.permutation(len(sentences)):
        words = sentences[i].split(" ")
        # an inner plain word: never the capitalized first word, the last
        # word carrying the period, or a piece of a citation
        slots = [j for j in range(1, len(words) - 1) if words[j].isalpha()
                 and words[j].islower()]
        if not slots:
            continue
        j = slots[int(r.integers(0, len(slots)))]
        new = words[j]
        while new == words[j]:
            new = maker.vocab[int(r.integers(0, len(maker.vocab)))]
        words[j] = new
        sentences[i] = " ".join(words)
        edits += 1
        if edits == k:
            break
    if not edits:
        raise ValueError("near-copy source has no editable word")
    return _Doc(sentences, set(src.breaks))


def expected_chunks(sentence_tokens: list[int]) -> int:
    """Chunk count of the engine's token-budgeted fold over one document,
    from sentence token counts alone (the join of sentences adds no token,
    so an overlap's count is the sum of its sentences')."""
    n, cur, cur_tok = 0, [], LEAD_LEN
    for s in sentence_tokens:
        if LEAD_LEN + s > MAX_TOKENS:        # truncated into its own chunk
            n += 1 + (1 if cur else 0)
            cur, cur_tok = [], LEAD_LEN
            continue
        if cur_tok + s > MAX_TOKENS:         # flush, restart with overlap
            overlap = cur[-N_OVERLAP:] if N_OVERLAP > 0 else []
            n += 1 if cur else 0
            if LEAD_LEN + sum(overlap) + s > MAX_TOKENS:
                cur = [s]
            else:
                cur = overlap + [s]
            cur_tok = LEAD_LEN + sum(cur)
            continue
        cur.append(s)
        cur_tok += s
    return n + (1 if cur else 0)


def generate(kind: str, seed: int) -> tuple[list[tuple[int, str]], Expected]:
    """→ (rows of (id, text), expected counts).  Pure function of its
    arguments."""
    spec = SPECS[kind]
    rng = np.random.default_rng([seed, sorted(SPECS).index(kind)])
    maker = _SentenceMaker(rng)
    boilerplate = [maker.sentence(0.5) for _ in range(48)]

    n_invalid = int(round(spec.n_docs * spec.invalid_share))
    n_exact = int(round(spec.n_docs * spec.exact_copy_share))
    n_near = int(round(spec.n_docs * spec.near_copy_share))
    n_long = len(spec.long_tail_bytes)
    n_orig = spec.n_docs - n_invalid - n_exact - n_near - n_long

    # log-normal lengths scaled so the ordinary documents total body_bytes
    w = rng.lognormal(0.0, spec.length_sigma, n_orig)
    lengths = np.maximum(spec.min_doc_bytes, w / w.sum() * spec.body_bytes)
    docs: list[_Doc | str] = [
        _make_doc(maker, spec, int(n), boilerplate) for n in lengths
    ]
    kinds = ["orig"] * n_orig

    # exact copies come in groups of 2-3 over distinct sources; near
    # copies use other sources, so no document is both
    sources = list(rng.permutation(n_orig))
    exact_src: list[tuple[int, int]] = []
    left = n_exact
    while left > 0:
        src = int(sources.pop())
        for _ in range(min(left, int(rng.integers(1, 3)))):
            exact_src.append((src, len(docs)))
            docs.append(docs[src])
            kinds.append("exact")
            left -= 1
    near_src = []
    for _ in range(n_near):
        src = int(sources.pop())
        near_src.append((src, len(docs)))
        docs.append(_near_copy(maker, docs[src]))
        kinds.append("near")
    for n in spec.long_tail_bytes:
        docs.append(_make_doc(maker, spec, n, boilerplate))
        kinds.append("long")
    blanks = ["", " ", "\n\n", " \t \n", "\t"]
    for i in range(n_invalid):
        docs.append(blanks[i % len(blanks)])
        kinds.append("invalid")

    # shuffle, then pin the long-tail documents at fixed fractions of the
    # order so every seed gives the same partition layout
    order = [int(i) for i in rng.permutation(len(docs)) if kinds[i] != "long"]
    longs = [i for i, k in enumerate(kinds) if k == "long"]
    for j, i in enumerate(longs):
        order.insert(int(len(order) * (2 * j + 1) / (2 * len(longs))), i)
    new_id = {old: new for new, old in enumerate(order)}

    rows, n_chunks, n_sent, n_run_on, distinct = [], 0, 0, 0, set()
    sha = hashlib.sha256()
    for old in order:
        d = docs[old]
        if isinstance(d, str):
            text = d
        else:
            text = d.text()
            toks = [count_tokens(s) for s in d.sentences]
            n_chunks += expected_chunks(toks)
            n_sent += len(toks)
            n_run_on += sum(1 for t in toks if LEAD_LEN + t > MAX_TOKENS)
            distinct.update(d.sentences)
        did = new_id[old]
        rows.append((did, text))
        sha.update(f"{did}\x00{text}\x01".encode())

    groups: dict[int, list[int]] = {}
    for src, cp in exact_src:
        groups.setdefault(new_id[src], [new_id[src]]).append(new_id[cp])
    exp = Expected(
        kind=kind, seed=seed, n_docs=len(rows),
        n_bytes=sum(len(t.encode()) for _, t in rows),
        n_invalid=n_invalid, n_chunks=n_chunks, n_sentences=n_sent,
        n_distinct_sentences=len(distinct), n_run_on=n_run_on,
        long_tail_ids=sorted(new_id[i] for i in longs),
        invalid_ids=sorted(new_id[i] for i, k in enumerate(kinds)
                           if k == "invalid"),
        exact_groups=sorted(sorted(g) for g in groups.values()),
        near_pairs=sorted([new_id[s], new_id[c]] for s, c in near_src),
        content_sha256=sha.hexdigest(),
    )
    return rows, exp


def write(rows: list[tuple[int, str]], exp: Expected, out_dir: str) -> str:
    """Write ``out_dir/docs.parquet`` and ``out_dir/expected.json``;
    → the parquet path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "docs.parquet")
    table = pa.table({
        "id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
    })
    pq.write_table(table, path, row_group_size=SPECS[exp.kind].rows_per_group)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(asdict(exp), f)
    return path


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` distinct short legal queries → [(query, cleaned)], where
    ``cleaned`` is what text cleaning must turn the query into.  About a
    third carry dirt that cleaning removes: surrounding whitespace, a tab
    for a space, or a non-ASCII section sign before a number."""
    rng = np.random.default_rng([seed, 99])
    maker = _SentenceMaker(rng)
    out, seen = [], set()
    while len(out) < n:
        words = maker._words(int(rng.integers(3, 9)))
        if rng.random() < 0.25:
            words.append(str(int(rng.integers(100, 9999))))
        clean = " ".join(words)
        if clean in seen:
            continue
        seen.add(clean)
        u, q = rng.random(), clean
        if u < 0.1:
            q = " \t" + clean + " \n"
        elif u < 0.2:
            q = clean.replace(" ", "\t", 1)
        elif u < 0.33 and words[-1].isdigit():
            q = clean[: -len(words[-1])] + "§" + words[-1]
        out.append((q, clean))
    return out
