"""Answer checks against the tests' reference implementation.

The oracle is ``gloomy_spark.oracle.OracleIndex`` (exhaustive tf/df and
BM25 in pure Python) built over the generator's ground-truth text, never
over anything the engine produced. Each check returns ``None`` when the
answer is right and a one-line reason when it is wrong.
"""

from __future__ import annotations

from collections import defaultdict

TOL = 1e-9


class Checker:
    def __init__(self, corpus, cfg):
        from gloomy_spark.oracle import OracleIndex
        from gloomy_spark.textnorm import tokenize

        self.tokenize = lambda s: tokenize(s, cfg)
        self.oracle = OracleIndex(list(zip(corpus.doc_ids.tolist(), corpus.texts)), cfg)
        self.text_of = dict(zip(corpus.doc_ids.tolist(), corpus.texts))
        self.lang_of = dict(zip(corpus.doc_ids.tolist(), corpus.langs))

    # ------------------------------------------------------------ bm25 --
    def _scores(self, query: str) -> dict[int, float]:
        o = self.oracle
        scores: dict[int, float] = defaultdict(float)
        for t in dict.fromkeys(self.tokenize(query)):
            for d in o.tf.get(t, {}):
                scores[d] += o.score(t, d)
        return scores

    def topk(self, query: str, k: int, got: list[tuple[int, float]],
             langs: list[str] | None = None) -> str | None:
        """Rank identity with the exhaustive oracle (score desc, doc_id
        asc), scores within 1e-9. Two docs whose oracle scores tie within
        1e-9 may swap ranks."""
        scores = self._scores(query)
        if langs is not None:
            keep = set(langs)
            scores = {d: s for d, s in scores.items() if self.lang_of[d] in keep}
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if len(got) != len(want):
            return f"bm25 {query!r}: {len(got)} rows, oracle {len(want)}"
        for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
            if abs(gs - ws) > TOL:
                return f"bm25 {query!r} rank {i}: score {gs!r}, oracle {ws!r}"
            if gd != wd and abs(scores.get(gd, float("nan")) - ws) > TOL:
                return f"bm25 {query!r} rank {i}: doc {gd}, oracle {wd}"
        return None

    # ----------------------------------------------------------- phrase --
    def phrase_anchors(self, phrase: str) -> dict[int, list[int]]:
        """doc_id → sorted start positions of the exact token phrase."""
        toks = self.tokenize(phrase)
        pos = self.oracle.positions
        if not toks or any(t not in pos for t in toks):
            return {}
        out = {}
        for d, starts in pos[toks[0]].items():
            rest = [set(pos[t].get(d, ())) for t in toks[1:]]
            hits = [p for p in starts if all(p + i in s for i, s in enumerate(rest, 1))]
            if hits:
                out[d] = hits
        return out

    def phrase(self, phrase: str, got_docs: list[int]) -> str | None:
        want = set(self.phrase_anchors(phrase))
        if sorted(got_docs) != sorted(want):
            return f"phrase {phrase!r}: {len(got_docs)} docs, oracle {len(want)}"
        return None

    def kwic(self, query: str, width: int, rows: list[tuple]) -> str | None:
        """Every hit (doc_id, pos) and its context windows, from the
        oracle positions and the ground-truth token stream."""
        toks = self.tokenize(query)
        n = len(toks)
        if n == 1:
            anchors = self.oracle.positions.get(toks[0], {})
        else:
            anchors = self.phrase_anchors(query)
        want = {}
        for d, starts in anchors.items():
            dt = self.tokenize(self.text_of[d])
            for p in starts:
                want[(d, p)] = (
                    " ".join(dt[max(0, p - width):p]),
                    " ".join(dt[p:p + n]),
                    " ".join(dt[p + n:p + n + width]),
                )
        got = {(d, p): (l, kw, r) for d, p, l, kw, r in rows}
        if len(got) != len(rows) or len(got) != len(want):
            return f"kwic {query!r}: {len(rows)} hits, oracle {len(want)}"
        for key, ctx in got.items():
            if want.get(key) != ctx:
                return f"kwic {query!r} hit {key}: {ctx}, oracle {want.get(key)}"
        return None

    # ----------------------------------------------------------- search --
    def search(self, qtype: str, q: str, rows: list[dict], limit: int) -> str | None:
        tf = self.oracle.tf
        if qtype == "prefix" or q.endswith("*"):
            p = q[:-1] if q.endswith("*") else q
            match = {t for t in tf if t.startswith(p)}
            n_want = min(limit, len(match))
        else:
            match = {q} & tf.keys()
            n_want = len(match)
        if len(rows) != n_want or len({r["term"] for r in rows}) != len(rows):
            return f"search {qtype} {q!r}: {len(rows)} rows, oracle {n_want}"
        for r in rows:
            t = r["term"]
            if t not in match or r["df"] != self.oracle.df(t) or r["cf"] != self.oracle.cf(t):
                return f"search {qtype} {q!r}: row {r} disagrees with the oracle"
        return None

    # ------------------------------------------------------------ build --
    def build(self, manifest) -> str | None:
        o = self.oracle
        want = (o.n_docs, len(o.tf), sum(len(v) for v in o.tf.values()))
        got = (manifest.n_docs, manifest.n_terms, manifest.postings_total)
        if got != want:
            return f"build (n_docs, n_terms, postings_total) = {got}, oracle {want}"
        return None

    def extraction(self, rows: list[tuple[int, str]]) -> str | None:
        """Extracted text equals the generator's text, byte for byte."""
        if len(rows) != len(self.text_of):
            return f"extraction: {len(rows)} docs, generated {len(self.text_of)}"
        for d, text in rows:
            if text is None or text.encode("utf-8") != self.text_of[d].encode("utf-8"):
                return f"extraction: doc {d} text differs from the generated text"
        return None
