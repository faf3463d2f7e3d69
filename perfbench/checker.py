"""Independent scorer for the benchmark: what every engine response and
store statistic is checked against.

Written apart from the engine. It imports neither the engine nor
tests/oracle.py, since both share the tokenizer fault the benchmark
names. It tokenizes with the reference's pattern \\P{L}+ through the
`regex` module, and scores with the SURVEY §5 formulas:

  compat  idf = ln((N+1)/(df+1)), score = Σ tf·idf
  bm25    idf = ln(1 + (N-df+0.5)/(df+0.5)),
          score = Σ idf·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)), k1=1.2, b=0.75

N and df count participating pages only (pages with at least one term),
within the site for site-filtered queries. avgdl is the global mean
length, as the engine's meta keeps it. The reported relevance is the
float32 of the double sum.

Run `python3 perfbench/checker.py` for the self-test: it shows that the
comparison flags a swapped pair, a wrong count and a wrong relevance.
"""

from __future__ import annotations

import math
import struct
from collections import Counter

import regex

_SPLIT = regex.compile(r"\P{L}+")
K1, B = 1.2, 0.75
REL_TOL = 1e-6


def tokenize(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def query_terms(query: str) -> list[str]:
    """Distinct lowercase terms in first-occurrence order."""
    return list(dict.fromkeys(tokenize(query)))


def f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def site_name(host: str) -> str:
    label = host.split(".")[0]
    return label[0].upper() + label[1:] if label else "Unknown"


class Model:
    """The corpus as the checker sees it: normalized url → (host, term
    counts), with upserts and deletes applied the way the reference
    applies them (delete-if-exists, then index the page)."""

    def __init__(self):
        self.pages: dict[str, str] = {}       # url_norm → host (all pages)
        self.tf: dict[str, Counter] = {}      # url_norm → counts (participating)
        self.host: dict[str, str] = {}        # url_norm → host (participating)
        self.dl: dict[str, int] = {}          # url_norm → length in terms
        self.text_bytes: dict[str, int] = {}  # url_norm → UTF-8 text size
        self.post: dict[str, dict[str, int]] = {}  # term → {url_norm: tf}

    def upsert(self, url_norm: str, host: str, text: str) -> None:
        self.delete(url_norm)
        self.pages[url_norm] = host
        self.text_bytes[url_norm] = len(text.encode())
        counts = Counter(tokenize(text))
        if counts:
            self.tf[url_norm] = counts
            self.host[url_norm] = host
            self.dl[url_norm] = sum(counts.values())
            for t, c in counts.items():
                self.post.setdefault(t, {})[url_norm] = c

    def delete(self, url_norm: str) -> None:
        self.pages.pop(url_norm, None)
        self.text_bytes.pop(url_norm, None)
        old = self.tf.pop(url_norm, None)
        self.host.pop(url_norm, None)
        self.dl.pop(url_norm, None)
        for t in old or ():
            p = self.post[t]
            del p[url_norm]
            if not p:
                del self.post[t]

    # ---- statistics -------------------------------------------------

    def n_docs(self, site: str | None = None) -> int:
        if site is None:
            return len(self.tf)
        return sum(1 for h in self.host.values() if h == site)

    def sum_dl(self) -> int:
        return sum(self.dl.values())

    def term_stats(self) -> dict[str, tuple[int, int]]:
        return {t: (len(p), sum(p.values())) for t, p in self.post.items()}

    # ---- scoring ----------------------------------------------------

    def expected(self, query: str, mode: str, site: str | None) -> tuple[
            list[tuple[str, float]], dict[str, float]]:
        """(ranking by float32 score desc, url → float32 score) of every
        page matching any query term."""
        terms = query_terms(query)
        n = self.n_docs(site)
        scores: dict[str, float] = {}
        if not terms or n == 0:
            return [], {}
        avgdl = self.sum_dl() / len(self.tf)
        for t in terms:
            post = self.post.get(t, {})
            if site is not None:
                post = {u: c for u, c in post.items()
                        if self.host[u] == site}
            df = len(post)
            if df == 0:
                continue
            if mode == "compat":
                idf = math.log((n + 1) / (df + 1))
            else:
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for u, tf in post.items():
                if mode == "compat":
                    w = tf * idf
                else:
                    w = idf * tf * (K1 + 1.0) / (
                        tf + K1 * (1.0 - B + B * self.dl[u] / avgdl))
                scores[u] = scores.get(u, 0.0) + w
        s32 = {u: f32(s) for u, s in scores.items()}
        ranking = sorted(s32.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranking, s32


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-30)


def check_response(model: Model, query: str, mode: str, site: str | None,
                   offset: int, limit: int, resp: dict) -> list[str]:
    """Differences between an engine response and the model; [] when
    they agree. Ties are compared tie-aware: each returned page must
    carry its own true score, and the score at every returned rank must
    equal the expected score at that rank."""
    if query is None or not query.strip():
        want = {"result": False, "count": 0}
        return ([] if (resp.get("result"), resp.get("count")) ==
                (want["result"], want["count"]) and not resp.get("data")
                else [f"blank query: got {resp}"])
    ranking, s32 = model.expected(query, mode, site)
    count = len(ranking)
    limit, offset = max(1, limit), max(0, offset)
    errs: list[str] = []
    if offset > count:
        if resp.get("result") is not False or resp.get("data"):
            errs.append(f"offset {offset} > count {count}: want "
                        f"result false, got {resp.get('result')}")
        return errs
    if resp.get("result") is not True:
        errs.append(f"result {resp.get('result')}, want true")
    if resp.get("count") != count:
        errs.append(f"count {resp.get('count')}, want {count}")
    data = resp.get("data") or []
    page = ranking[offset:offset + limit]
    if len(data) != len(page):
        errs.append(f"{len(data)} results, want {len(page)}")
    seen: set[str] = set()
    for i, (item, (_, want_score)) in enumerate(zip(data, page)):
        uri = item.get("uri", "")
        got = float(item.get("relevance", float("nan")))
        if uri in seen:
            errs.append(f"rank {offset + i}: duplicate {uri}")
        seen.add(uri)
        if uri not in s32:
            errs.append(f"rank {offset + i}: {uri} does not match")
            continue
        if not _close(got, s32[uri]):
            errs.append(f"rank {offset + i}: {uri} relevance {got}, "
                        f"want {s32[uri]}")
        if not _close(got, want_score):
            errs.append(f"rank {offset + i}: score {got} where the "
                        f"ranking has {want_score}")
        host = model.pages.get(uri, "")
        if item.get("siteName") != site_name(host):
            errs.append(f"rank {offset + i}: siteName "
                        f"{item.get('siteName')!r}")
    return errs


def check_statistics(model: Model, stats: dict) -> list[str]:
    """statistics_service totals against the model."""
    tot = stats.get("statistics", {}).get("total", {})
    by_host = Counter(model.pages.values())
    want = {"sites": len(by_host), "pages": len(model.pages),
            "lemmas": len(model.post)}
    return [f"statistics {k} {tot.get(k)}, want {v}"
            for k, v in want.items() if tot.get(k) != v]


def self_test() -> list[str]:
    """Perturb a correct response three ways; each must be flagged.
    Returns the perturbations the comparison missed ([] = passed)."""
    m = Model()
    m.upsert("https://a.test/1", "a.test", "alfa beta beta")
    m.upsert("https://a.test/2", "a.test", "alfa gamma")
    m.upsert("https://b.test/3", "b.test", "beta delta delta delta")
    m.upsert("https://b.test/4", "b.test", "epsilon")
    ranking, _ = m.expected("beta alfa", "compat", None)
    good = {"result": True, "count": len(ranking), "data": [
        {"uri": u, "siteName": site_name(m.pages[u]), "relevance": s}
        for u, s in ranking]}
    missed = []
    if check_response(m, "beta alfa", "compat", None, 0, 10, good):
        missed.append("a correct response was flagged")
    swapped = dict(good, data=[good["data"][1], good["data"][0]]
                   + good["data"][2:])
    wrong_count = dict(good, count=good["count"] + 1)
    wrong_rel = dict(good, data=[dict(good["data"][0], relevance=good[
        "data"][0]["relevance"] * 1.001)] + good["data"][1:])
    for name, resp in (("swapped pair", swapped), ("wrong count",
                       wrong_count), ("wrong relevance", wrong_rel)):
        if not check_response(m, "beta alfa", "compat", None, 0, 10, resp):
            missed.append(name)
    return missed


if __name__ == "__main__":
    import sys
    missed = self_test()
    print("checker self-test:", "ok" if not missed else f"missed {missed}")
    sys.exit(1 if missed else 0)
