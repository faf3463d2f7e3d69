"""Seeded inputs of the benchmark: a raw pages corpus, the `search` query
log and the `update_mix` mutation script.

Everything here is a pure function of the seed and imports nothing from
the engine, so no change to the program can change a workload.

Pages follow the FIXTURES.md template rules: `<p>`, `<div>`, `<h1>`,
`<a href>` and `<b>` only, text nodes separated by single spaces, and no
entities beyond `&amp; &lt; &gt;`. The visible text of every page is
therefore known exactly at generation time (`Page.text`), and the
checker scores that text without running any HTML extraction.

Page text never contains a Unicode No/Nl character. Only the named-fault
queries (FAULT_QUERIES) carry them, and those queries and the anchor
pages they hit are the same for every seed.
"""

from __future__ import annotations

import math
import random
from bisect import bisect_right
from dataclasses import dataclass

HOSTS = ["volga.test", "sever.test", "alpha.test", "beta.test",
         "gamma.test"]
HOST_WEIGHTS = [0.38, 0.25, 0.17, 0.12, 0.08]
VOCAB_SIZE = 4000
ZIPF_S = 1.05
N_STOPWORDS = 6
STOPWORD_SHARE = 0.22  # share of body tokens drawn from the stopwords
UPDATE_WORDS = 80      # body length of every page an update writes

_LAT = ["ba", "ce", "di", "fo", "gu", "la", "me", "ni", "po", "ru", "se",
        "ti", "vo", "xa", "ze", "ko", "lu", "mi", "nor", "qe"]
_CYR = ["ба", "ве", "ди", "го", "жу", "ла", "ме", "ни", "по", "ра", "се",
        "ти", "во", "шу", "ха", "зе", "ко", "лу", "ми", "нор"]

# Named fault (functions/textprep.py PY_TOKEN_SPLIT = [\W\d_]+): a
# Unicode No/Nl character between two letters stays inside the query
# token, where the reference's \P{L}+ splits on it. Seed-independent.
ANCHOR_HOST = "anchor.test"
ANCHOR_PAGES = [
    ("/fault/1", "dira noba dira"),
    ("/fault/2", "noba h o"),
    ("/fault/3", "x y h"),
    ("/fault/4", "o x dira"),
]
ANCHOR_TERMS = {"dira", "noba", "h", "o", "x", "y"}
FAULT_QUERIES = ["dira²noba", "h₂o", "xⅫy"]  # ², ₂, Ⅻ

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z

# Query shapes: (term classes, mode, site, offset). Term classes are
# vocabulary rank bands: stop = the stopwords (in >60 % of pages), mid =
# ranks 20-299, rare = ranks 300-2999. Shares: 1 term 50 %, 2 terms
# 35 %, 3 terms 15 %; compat and bm25 half each; site-filtered 20 %;
# paged (offset 10) 15 %.
TERM_RANKS = {"stop": (0, N_STOPWORDS), "mid": (20, 300),
              "rare": (300, 3000)}
SHAPES = [
    (("mid",), "compat", None, 0),
    (("rare", "mid"), "bm25", None, 0),
    (("stop",), "bm25", None, 0),
    (("mid", "stop", "rare"), "compat", None, 0),
    (("rare",), "compat", "volga.test", 0),
    (("mid",), "bm25", None, 10),
    (("mid", "mid"), "compat", None, 0),
    (("rare",), "bm25", None, 0),
    (("stop", "mid"), "compat", "sever.test", 0),
    (("mid",), "compat", None, 0),
    (("rare", "rare"), "bm25", None, 10),
    (("mid",), "bm25", "alpha.test", 0),
    (("mid", "rare", "rare"), "bm25", None, 0),
    (("rare",), "compat", None, 10),
    (("mid", "stop"), "bm25", None, 0),
    (("stop",), "compat", "beta.test", 0),
    (("rare", "mid"), "compat", None, 0),
    (("mid",), "bm25", None, 0),
    (("mid", "rare"), "bm25", None, 0),
    (("rare", "stop", "mid"), "compat", None, 0),
]
# pool entry i occurs LOG_REPEATS[i] times (Zipf, s = 0.8): 60 distinct
# queries, 82 log entries
LOG_REPEATS = [max(1, round(9 / (i + 1) ** 0.8)) for i in range(60)]


@dataclass
class Page:
    url: str          # raw url as crawled (may carry www./slash/#frag)
    html: bytes
    text: str         # visible body text, known by construction
    warc_ts: int      # seconds since the epoch
    lang: str


@dataclass
class Query:
    text: str
    mode: str = "compat"
    site: str | None = None
    offset: int = 0
    limit: int = 10
    fault: bool = False  # a named-fault query: counted as failed


def make_vocab(rng: random.Random) -> list[str]:
    vocab: list[str] = []
    seen: set[str] = set(ANCHOR_TERMS)
    while len(vocab) < VOCAB_SIZE:
        syl = _CYR if rng.random() < 0.4 else _LAT
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    return vocab


VOCAB = make_vocab(random.Random(424242))


class _Zipf:
    def __init__(self, n: int, s: float):
        acc, self.cum = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r ** s
            self.cum.append(acc)
        self.total = acc

    def draw(self, rng: random.Random) -> int:
        return bisect_right(self.cum, rng.random() * self.total)


def _surface(rng: random.Random, term: str, nxt: str) -> str:
    """Mixed-case surface forms plus digit/hyphen/punctuation joins that
    the \\P{L}+ tokenizer splits back into letter runs."""
    p = rng.random()
    if p < 0.06:
        return term.upper()
    if p < 0.13:
        return term.capitalize()
    if p < 0.16:
        return f"{term}-{nxt}"
    if p < 0.18:
        return f"{term}{rng.randint(0, 99)}"
    if p < 0.19:
        return f"{term},"
    return term


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _html(rng: random.Random, words: list[str]) -> str:
    esc = [_escape(w) for w in words]
    if not esc:
        return "<html><head><title>empty</title></head><body></body></html>"
    kind = rng.randrange(4)
    if kind == 0 or len(esc) < 4:
        return ("<html><head><title>t</title></head><body><p>"
                + " ".join(esc) + "</p></body></html>")
    cut = rng.randint(1, len(esc) - 2)
    head, tail = " ".join(esc[:cut]), " ".join(esc[cut:])
    if kind == 1:  # block-sibling spacing
        return f"<html><body><h1>{head}</h1><div>{tail}</div></body></html>"
    if kind == 2:  # whitespace collapse between nested blocks
        return (f"<html><body><div>\n  <p>{head}</p>\n\n  <p>{tail}</p>\n"
                f"</div></body></html>")
    # inline elements inside one block: text nodes keep their spaces
    rest = esc[cut + 1:]
    return (f'<html><body><p>{head} <b>{esc[cut]}</b> '
            f'<a href="/l/{cut}">{" ".join(rest)}</a></p></body></html>')


def _url(rng: random.Random, host: str, path: str) -> str:
    www = "www." if rng.random() < 0.11 else ""
    trail = "/" if rng.random() < 0.09 else ""
    frag = "#sec" if rng.random() < 0.07 else ""
    return f"https://{www}{host}{path}{trail}{frag}"


class Generator:
    """All inputs of one seed. The draw order is fixed, so the same seed
    gives byte-identical pages, query log and mutation script."""

    def __init__(self, seed: int):
        self.seed = seed
        self.vocab = VOCAB
        self.stopwords = self.vocab[:N_STOPWORDS]
        self.zipf = _Zipf(VOCAB_SIZE, ZIPF_S)
        self._ts = 0

    def term(self, rng: random.Random) -> str:
        return self.vocab[self.zipf.draw(rng)]

    def body_words(self, rng: random.Random, n: int) -> list[str]:
        terms = [self.stopwords[rng.randrange(N_STOPWORDS)]
                 if rng.random() < STOPWORD_SHARE else self.term(rng)
                 for _ in range(n + 1)]
        return [_surface(rng, terms[i], terms[i + 1]) for i in range(n)]

    def page(self, rng: random.Random, host: str, path: str,
             n_words: int | None = None) -> Page:
        u = 1.0 if n_words else rng.random()
        if u < 0.004:        # empty body: a page with no text
            words: list[str] = []
        elif u < 0.008:      # digits and punctuation only: zero terms
            words = [str(rng.randint(0, 99999)), "&", "42", "<>"]
        else:
            n = n_words or max(5, min(600, int(math.exp(rng.gauss(4.1,
                                                                  0.8)))))
            words = self.body_words(rng, n)
        self._ts += 1
        return Page(url=_url(rng, host, path), html=_html(rng, words)
                    .encode("utf-8"), text=" ".join(words),
                    warc_ts=EPOCH_S + 60 * self._ts,
                    lang=rng.choice(["ru", "en", "mixed"]))

    def corpus(self, n_docs: int) -> list[Page]:
        """n_docs seeded pages plus the fixed anchor pages."""
        rng = random.Random(self.seed * 31 + 1)
        pages = [self.page(rng, rng.choices(HOSTS, HOST_WEIGHTS)[0],
                           f"/p/{i}") for i in range(n_docs)]
        for path, text in ANCHOR_PAGES:
            pages.append(Page(url=f"https://{ANCHOR_HOST}{path}",
                              html=f"<html><body><p>{text}</p></body>"
                                   f"</html>".encode("utf-8"),
                              text=text, warc_ts=EPOCH_S, lang="en"))
        return pages

    def query(self, rng: random.Random, shape: tuple) -> Query:
        """A query of a fixed shape with seeded terms: mixed case and
        punctuation in the query string."""
        classes, mode, site, offset = shape
        terms = []
        for c in classes:
            lo, hi = TERM_RANKS[c]
            t = self.vocab[rng.randrange(lo, hi)]
            while t in terms:
                t = self.vocab[rng.randrange(lo, hi)]
            terms.append(t)
        words = [t.upper() if rng.random() < 0.1 else t for t in terms]
        text = (", " if rng.random() < 0.1 else " ").join(words)
        return Query(text=text, mode=mode, site=site, offset=offset)

    def query_log(self) -> list[Query]:
        """The `search` log: pool entry i has shape SHAPES[i % n] and
        occurs LOG_REPEATS[i] times, so the log's make-up is the same for
        every seed and popular queries repeat (Zipf); the seed picks the
        terms and the order."""
        rng = random.Random(self.seed * 131 + 7)
        pool = [self.query(rng, SHAPES[i % len(SHAPES)])
                for i in range(len(LOG_REPEATS))]
        log = [q for q, n in zip(pool, LOG_REPEATS) for _ in range(n)]
        rng.shuffle(log)
        return log

    def update_script(self, pages: list[Page],
                      n_rounds: int) -> list[list[tuple]]:
        """Rounds of the same shape: upsert an existing url, delete an
        existing url, upsert a new url, each followed by a search of a
        fixed shape. Mutated pages have typical lengths (UPDATE_WORDS words
        written, 40-120 removed), so a mutation's cost does not hinge on
        the seed. Existing urls are drawn without replacement."""
        rng = random.Random(self.seed * 977 + 3)
        idx = [i for i, p in enumerate(pages)
               if p.url.split("/")[2] != ANCHOR_HOST
               and 40 <= len(p.text.split()) <= 120]
        rng.shuffle(idx)
        rounds = []
        for r in range(n_rounds):
            up, gone = pages[idx[2 * r]], pages[idx[2 * r + 1]]
            host = rng.choices(HOSTS, HOST_WEIGHTS)[0]
            fresh = self.page(rng, host, f"/new/{r}", UPDATE_WORDS)
            # the upsert of an existing page re-crawls it: same url, new
            # text, later crawl time
            new = self.page(rng, "", "", UPDATE_WORDS)
            new.url = up.url
            ops: list[tuple] = []
            for i, op in enumerate((("upsert", new), ("delete", gone.url),
                                    ("upsert", fresh))):
                ops += [op, ("search", self.query(rng, SHAPES[i]))]
            rounds.append(ops)
        return rounds


def normalize_url(url: str) -> str:
    """The reference's url normalization for the shapes made here: drop
    the #fragment, a leading www. and one trailing slash."""
    u = url.split("#", 1)[0]
    if u.startswith("https://www."):
        u = "https://" + u[len("https://www."):]
    return u[:-1] if u.endswith("/") and len(u) > len("https://x") else u
