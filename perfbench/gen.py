"""Seeded input generator for the benchmark workloads.

Every input a workload feeds the program is made here from the workload
seed: pages (log-normal length, 10x outliers, non-``en`` rows, html-only
rows, planted near-duplicates, Zipf-drawn entity names over a shared
real-word vocabulary) and clustered page embeddings.  Exact recrawls are
copies of earlier pages, made by the workload that feeds them.  Nothing is
read from disk, so the same seed gives byte-identical inputs on any machine;
:func:`fingerprint` names them in every report.
"""

from __future__ import annotations

import bisect
import hashlib
import html as _html
import math
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from statistics import NormalDist

# Shared real-word vocabulary for entity names: common name words, so char
# shingles crossing them are hot across many distinct entities.
NAME_WORDS = """
pacific atlantic northern southern central united global national digital
summit vertex crown royal grand bright solar lunar quantum micro cloud
core edge river harbor valley meadow cedar maple willow amber silver
copper iron stone coral ocean ridge storm ember beacon shadow echo
prime alpha delta omega rapid swift clear true bold strong
""".split()
NAME_TAILS = """
systems group labs works partners holdings energy freight logistics
foods motors media studio capital ventures analytics networks health
""".split()
SUFFIXES = ["", "", "", " Inc", " Corp", " Ltd", " Group", " International"]
VERBS = """
acquired launched announced developed unveiled reported sued opened
hired signed supplied funded built tested licensed exhibited
""".split()
NOUNS = """
research center supply agreement data platform sensor network service
contract product line engine plant trading desk logistics hub
clinic chain software suite battery factory media studio
""".split()
ADJ = "new large regional joint digital modern second small".split()
PLACES = """
London Berlin Toronto Austin Perth Shanghai Madrid Oslo Dublin Lagos
Lima Osaka Denver Vienna Prague Seoul
""".split()
PREPS = ["in", "near", "outside", "across"]
DE_WORDS = """
der die das und mit einem neuen Werk in der Stadt wurde heute eröffnet
sowie zwei weitere Standorte nach Angaben des Unternehmens
""".split()

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


@dataclass(frozen=True)
class Profile:
    """Per-workload input shape."""

    n_pages: int
    n_entities: int = 300
    zipf_s: float = 1.1
    len_mu: float = 1.6            # log-normal sentences per page
    len_sigma: float = 0.6
    outlier_share: float = 0.02    # pages 10x longer
    non_en_share: float = 0.02
    html_only_share: float = 0.0   # text NULL, body only in html
    near_dup_share: float = 0.0    # perturbed copies (planted pairs)


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        out.append(acc)
    return [c / acc for c in out]


def _title(words: str) -> str:
    return " ".join(w.capitalize() for w in words.split())


def entity_variants(rng: random.Random, n_entities: int) -> list[list[str]]:
    """Surface variants per entity: a canonical name plus suffix/word-drop
    variants, so canonicalize has genuine near-duplicate mentions."""
    out = []
    for _ in range(n_entities):
        base = _title(" ".join(rng.sample(NAME_WORDS, rng.choice((1, 2))))
                      + " " + rng.choice(NAME_TAILS))
        variants = {base, base + rng.choice(SUFFIXES[3:])}
        if rng.random() < 0.5:
            variants.add(base + rng.choice(SUFFIXES[3:]))
        out.append(sorted(variants))
    return out


def _sentence(rng: random.Random, pick) -> str:
    form = rng.random()
    if form < 0.5:
        return (f"{pick()} {rng.choice(VERBS)} a {rng.choice(ADJ)} "
                f"{rng.choice(NOUNS)} {rng.choice(PREPS)} "
                f"{rng.choice(PLACES)}.")
    if form < 0.8:
        return (f"{pick()} {rng.choice(VERBS)} the {rng.choice(NOUNS)} "
                f"of {pick()}.")
    return (f"Analysts said {pick()} {rng.choice(VERBS)} "
            f"{rng.choice(('three', 'two', 'several'))} "
            f"{rng.choice(NOUNS)}s with {pick()}.")


def _page_text(rng: random.Random, n_sents: int, pick) -> str:
    return " ".join(_sentence(rng, pick) for _ in range(n_sents))


def sentence_counts(rng: random.Random, p: Profile, n: int) -> list[int]:
    """Sentences per page: the log-normal's ``n`` quantiles, an exact
    ``outlier_share`` of them replaced by 10x the median, in seeded order.
    Every seed gets the same multiset of lengths, so the amount of work
    does not depend on the seed; which page is long does."""
    dist = NormalDist(p.len_mu, p.len_sigma)
    counts = [max(1, int(math.exp(dist.inv_cdf((i + 0.5) / n))))
              for i in range(n)]
    long = 10 * counts[n // 2]
    for i in range(0, n, max(1, round(1 / p.outlier_share))
                   if p.outlier_share else n + 1):
        counts[i] = long
    rng.shuffle(counts)
    return counts


def _german_text(rng: random.Random) -> str:
    return " ".join(rng.choice(DE_WORDS) for _ in range(rng.randint(8, 40))) + "."


def page_html(text: str, title: str) -> bytes:
    """A full page around ``text``: doctype, head, script, nav, footer and
    entity-escaped body, so the html decode path has chrome to strip.
    Written here rather than with the program's own page wrapper, so a
    change to the program cannot change the benchmark's inputs."""
    body = _html.escape(text, quote=False)
    return (
        "<!DOCTYPE html>\n<html><head><title>" + _html.escape(title)
        + "</title><script>var t = 1 < 2;</script></head>\n<body>"
        "<nav><a href=\"/\">Home</a> | <a href=\"/news\">News</a></nav>\n"
        "<!-- article -->\n<p>" + body + "</p>\n"
        "<footer>&copy; 2024 Example Media</footer></body></html>\n"
    ).encode("utf-8")


def perturb(rng: random.Random, text: str, rate: float = 0.04) -> str:
    """Near-duplicate of ``text``: ~``rate`` of the words replaced."""
    words = text.split(" ")
    for i in range(len(words)):
        if rng.random() < rate:
            words[i] = rng.choice(NOUNS)
    return " ".join(words)


@dataclass
class Corpus:
    rows: list[tuple]          # (url, warc_ts, html, text, lang)
    planted: list[tuple]       # (url_a, url_b) near-duplicate pairs


def row_kinds(rng: random.Random, p: Profile) -> list[str]:
    """Exact per-profile shares of each kind of row, in seeded order; the
    first row is always an original page (copies need a source)."""
    n = p.n_pages
    kinds = (["near_dup"] * round(n * p.near_dup_share)
             + ["de"] * round(n * p.non_en_share)
             + ["html_only"] * round(n * p.html_only_share))
    kinds += ["page"] * (n - len(kinds))
    rng.shuffle(kinds)
    first = kinds.index("page")
    kinds[0], kinds[first] = kinds[first], kinds[0]
    return kinds


def make_pages(seed: int, p: Profile, *, url_prefix: str = "web",
               start: int = 0) -> Corpus:
    """Pages for one workload, each share an exact fraction of
    ``n_pages``."""
    rng = random.Random(f"pages:{seed}:{url_prefix}:{start}")
    ents = entity_variants(random.Random(f"ents:{seed}"), p.n_entities)
    cdf = _zipf_cdf(len(ents), p.zipf_s)

    def pick() -> str:
        e = ents[min(bisect.bisect(cdf, rng.random()), len(ents) - 1)]
        return rng.choice(e)

    kinds = row_kinds(rng, p)
    lengths = iter(sentence_counts(
        rng, p, sum(k in ("page", "html_only") for k in kinds)))
    rows: list[tuple] = []
    planted: list[tuple] = []
    originals: list[tuple] = []
    for i, kind in zip(range(start, start + p.n_pages), kinds):
        ts = _EPOCH + timedelta(seconds=i)
        url = f"https://{url_prefix}.example/{i:07d}"
        if kind == "near_dup":
            src = rng.choice(originals)
            text = perturb(rng, src[3])
            rows.append((url, ts, page_html(text, url), text, "en"))
            planted.append((src[0], url))
        elif kind == "de":
            text = _german_text(rng)
            rows.append((url, ts, page_html(text, url), text, "de"))
        else:
            text = _page_text(rng, next(lengths), pick)
            row = (url, ts, page_html(text, url), text, "en")
            originals.append(row)
            rows.append(row if kind == "page"
                        else (url, ts, row[2], None, "en"))
    return Corpus(rows, planted)


def make_embeddings(seed: int, n: int, dim: int = 64, n_clusters: int = 16):
    """(n, dim) float64 page embeddings around seeded cluster centres."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, size=n)
    return centres[labels] + 0.35 * rng.normal(size=(n, dim))


def fingerprint(*parts) -> str:
    """Stable 16-hex digest of generated inputs or collected outputs."""
    h = hashlib.sha256()
    for part in parts:
        h.update(repr(part).encode("utf-8"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


def write_pages(rows: list[tuple], path: str) -> None:
    """Write pages rows as one parquet file in the ``pages`` schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [[]] * 5
    table = pa.table({
        "url": pa.array(cols[0], pa.string()),
        "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols[2], pa.binary()),
        "text": pa.array(cols[3], pa.string()),
        "lang": pa.array(cols[4], pa.string()),
    })
    pq.write_table(table, path)
