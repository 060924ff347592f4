"""Seeded pages and query streams owned by the benchmark.

Nothing here imports ``gloomy_spark``: a change to the program cannot change
the workload. The page shape follows FIXTURES.md section 1:

- a Zipf(s=1.07) vocabulary whose head words ("the"-like) reach most pages;
- log-normal page lengths (median ~200 tokens, capped at 2000);
- languages en/cs/de at 90/8/2, with diacritic words in cs/de pages;
- html = title + ``<p>`` paragraphs, 10% of pages carrying ``<nav>`` and
  ``<script>`` boilerplate that extraction must drop;
- sentence separators ``. ? ! ; : ,`` and stray ``"`` tokens, so the
  tokenizer's stop and ignore strings are exercised.

``Corpus.text`` is the ground truth of extraction: title, then one line per
paragraph, exactly what the engine must recover from ``html``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.07
VOCAB_SIZE = 8000
HEAD_WORDS = (
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or", "his",
    "from", "at", "which", "but", "have", "an", "had", "they",
)
CS_WORDS = ("žluťoučký", "kůň", "úpěl", "ďábelské", "ódy", "příliš", "dům")
DE_WORDS = ("über", "größe", "straße", "müde", "schön")
SYLLABLES = (
    "al an ar as at ba be bi bo ca ce co da de di do du el en er es fa fi ga "
    "go ha he in is ka la le li lo ma me mi mo na ne ni no or pa pe po ra re "
    "ri ro sa se si so ta te ti to tu ul um un ur va ve vi vo za ze zo"
).split()
# separators after a sentence-final token; ". " and ": " are stop strings,
# ", " is an ignore string
SEPARATORS = np.array([". ", "? ", "! ", "; ", ": ", ", "], dtype=object)
SEPARATOR_P = np.array([0.45, 0.1, 0.1, 0.1, 0.1, 0.15])
BOILERPLATE = (
    "<nav><p>home about contact sitemap</p></nav>"
    "<script>var t=1;function f(){return t}</script>"
)
PARAGRAPH_TOKENS = 60
# head terms: document frequency above this share of pages (FIXTURES §5
# salt_threshold_df)
HEAD_DF_SHARE = 0.05


def vocabulary(rng: np.random.Generator) -> list[str]:
    """Head words first (Zipf ranks 0..29), then diacritic words, then
    distinct made-up syllable words."""
    words = list(HEAD_WORDS) + list(CS_WORDS) + list(DE_WORDS)
    seen = set(words)
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


@dataclass
class Corpus:
    doc_ids: np.ndarray
    langs: list[str]
    urls: list[str]
    texts: list[str]
    htmls: list[bytes]
    text_bytes: int = field(init=False)

    def __post_init__(self) -> None:
        self.text_bytes = sum(len(t.encode("utf-8")) for t in self.texts)

    def write_parquet(self, path: str) -> None:
        """The pages table the engine reads: (doc_id, url, warc_ts, html,
        text, lang), one file."""
        base = datetime(2024, 1, 1)
        ts = np.datetime64(base, "s") + (self.doc_ids * 37 % 86400).astype(
            "timedelta64[s]"
        )
        table = pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.int64()),
                "url": pa.array(self.urls, pa.string()),
                "warc_ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                "html": pa.array(self.htmls, pa.binary()),
                "text": pa.array(self.texts, pa.string()),
                "lang": pa.array(self.langs, pa.string()),
            }
        )
        pq.write_table(table, path)


def generate_pages(seed: int, n_pages: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(ranks**-ZIPF_S)
    cdf /= cdf[-1]

    lengths = np.clip(
        np.exp(rng.normal(np.log(200.0), 0.6, n_pages)), 5, 2000
    ).astype(np.int64)
    u = rng.random(n_pages)
    langs = np.where(u < 0.90, "en", np.where(u < 0.98, "cs", "de"))
    sites = (1000 * rng.random(n_pages) ** 3).astype(np.int64)
    boiler = rng.random(n_pages) < 0.10

    total = int(lengths.sum())
    tok = np.searchsorted(cdf, rng.random(total), side="left")
    # 3% of the tokens of cs/de pages are diacritic words
    page_of = np.repeat(np.arange(n_pages), lengths)
    dia = rng.random(total) < 0.03
    cs_mask = dia & (langs[page_of] == "cs")
    de_mask = dia & (langs[page_of] == "de")
    n_head = len(HEAD_WORDS)
    tok[cs_mask] = n_head + rng.integers(0, len(CS_WORDS), int(cs_mask.sum()))
    tok[de_mask] = (
        n_head + len(CS_WORDS) + rng.integers(0, len(DE_WORDS), int(de_mask.sum()))
    )
    # sentence ends every 6-14 tokens; half the sentence-initial words are
    # capitalised; 0.5% of tokens are stray '"' (an ignore string: dropped,
    # the n-gram window continues)
    sent_len = rng.integers(6, 15, total)
    pos = np.arange(total) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    is_end = (pos % sent_len) == (sent_len - 1)
    sep = SEPARATORS[rng.choice(len(SEPARATORS), total, p=SEPARATOR_P)]
    seps = np.where(is_end, sep, " ")
    is_start = np.concatenate(([True], is_end[:-1])) | (pos == 0)
    cap = is_start & (rng.random(total) < 0.5)
    lower = np.asarray(vocab, dtype=object)
    upper = np.asarray([w.capitalize() for w in vocab], dtype=object)
    words = np.where(cap, upper[tok], lower[tok])
    words[rng.random(total) < 0.005] = '"'
    pieces = (words + seps).tolist()

    doc_ids = np.arange(n_pages, dtype=np.int64)
    texts: list[str] = []
    htmls: list[bytes] = []
    urls: list[str] = []
    lo = 0
    for i in range(n_pages):
        hi = lo + int(lengths[i])
        body = pieces[lo:hi]
        paras = [
            "".join(body[j : j + PARAGRAPH_TOKENS]).rstrip()
            for j in range(0, len(body), PARAGRAPH_TOKENS)
        ]
        title = " ".join(str(w) for w in words[lo : min(lo + 5, hi)])
        texts.append("\n".join([title] + paras))
        html = (
            f"<html><head><title>{title}</title></head><body>"
            + (BOILERPLATE if boiler[i] else "")
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</body></html>"
        )
        htmls.append(html.encode("utf-8"))
        urls.append(f"https://example-{sites[i]:04d}.test/page/{i:06d}")
        lo = hi
    return Corpus(doc_ids, langs.tolist(), urls, texts, htmls)


# ---------------------------------------------------------------- queries --

@dataclass
class QueryMix:
    """Distinct query pools; each stream draws pool ranks Zipf-like."""

    bm25: list[str]
    search: list[tuple[str, str]]  # (qtype, q)
    phrases: list[str]
    kwic: list[str]


NO_HIT_SHARE = 0.05
HEAD_TERM_SHARE = 0.25
TERM_COUNT_P = (0.4, 0.4, 0.2)  # 1, 2, 3 terms


def _oov_word(rng: np.random.Generator) -> str:
    # 'q' and 'x' are absent from every syllable, so these never occur
    return "qx" + "".join(rng.choice(list("qxjwy"), 5))


_SPLIT = re.compile(r"[,.\s;?!:]+")


def tokens(text: str) -> list[str]:
    """The pinned token stream (FIXTURES §3), kept here so that query
    generation does not depend on the program's tokenizer."""
    return [t for t in _SPLIT.split(text.lower()) if t and t != '"']


def make_queries(seed: int, corpus: Corpus, pool_sizes: dict[str, int]) -> QueryMix:
    """Pools of distinct queries, built from the corpus' own statistics:

    - bm25: 1-3 terms (40/40/20); each term is a head term (df/N > 0.05)
      with probability 0.25, otherwise a mid/tail term drawn log-uniformly
      by df rank; 5% of queries consist only of never-indexed words;
    - search: 70% exact (half indexed terms, half never-indexed), 30%
      prefix ``xy*`` over 2-3 leading letters of an indexed term;
    - phrases: 2-3 adjacent tokens cut from a random page, so they match,
      with 5% never-indexed phrases;
    - kwic: single mid-frequency terms and adjacent pairs (5% no-hit).
    """
    rng = np.random.default_rng([seed, 2])
    n = len(corpus.texts)
    token_lists = [tokens(t) for t in corpus.texts]
    df: dict[str, int] = {}
    for toks in token_lists:
        for w in set(toks):
            df[w] = df.get(w, 0) + 1
    by_df = sorted(df, key=lambda w: (-df[w], w))
    head = [w for w in by_df if df[w] / n > HEAD_DF_SHARE]
    rest = [w for w in by_df if df[w] / n <= HEAD_DF_SHARE]

    def rest_term() -> str:
        # log-uniform over df rank: as many mid as tail terms
        i = int(np.exp(rng.uniform(0, np.log(len(rest))))) - 1
        return rest[i]

    def unique(make, size: int) -> list:
        out, seen = [], set()
        while len(out) < size:
            q = make()
            if q not in seen:
                seen.add(q)
                out.append(q)
        return out

    def bm25_query() -> str:
        if rng.random() < NO_HIT_SHARE:
            return " ".join(_oov_word(rng) for _ in range(rng.integers(1, 3)))
        k = int(rng.choice(3, p=TERM_COUNT_P)) + 1
        return " ".join(
            rng.choice(head) if rng.random() < HEAD_TERM_SHARE else rest_term()
            for _ in range(k)
        )

    def search_query() -> tuple[str, str]:
        u = rng.random()
        if u < 0.35:
            return ("default", rest_term())
        if u < 0.70:
            return ("default", _oov_word(rng))
        w = rest_term()
        return ("prefix", w[: int(rng.integers(2, 4))] + "*")

    def window(lo_len: int, hi_len: int) -> str:
        toks = token_lists[int(rng.integers(0, n))]
        m = int(rng.integers(lo_len, hi_len + 1))
        if len(toks) < m:
            return " ".join(toks)
        i = int(rng.integers(0, len(toks) - m + 1))
        return " ".join(toks[i : i + m])

    def phrase_query() -> str:
        if rng.random() < NO_HIT_SHARE:
            return f"{_oov_word(rng)} {_oov_word(rng)}"
        return window(2, 3)

    def kwic_query() -> str:
        u = rng.random()
        if u < NO_HIT_SHARE:
            return _oov_word(rng)
        if u < 0.5:
            # mid-frequency single terms keep the hit count per call moderate
            return rest[int(rng.integers(len(rest) // 20, len(rest) // 4))]
        return window(2, 2)

    return QueryMix(
        bm25=unique(bm25_query, pool_sizes["bm25"]),
        search=unique(search_query, pool_sizes["search"]),
        phrases=unique(phrase_query, pool_sizes["phrases"]),
        kwic=unique(kwic_query, pool_sizes["kwic"]),
    )


def zipf_ranks(rng: np.random.Generator, pool: int, n: int, s: float) -> np.ndarray:
    """n draws of pool ranks 0..pool-1 with P(rank r) ∝ (r+1)^-s."""
    w = np.arange(1, pool + 1, dtype=np.float64) ** -s
    return rng.choice(pool, n, p=w / w.sum())
