"""Seeded crawl-input generator for the benchmark workloads.

One process, numpy + pyarrow only: the program under test is never
imported here, so a change to the program cannot change its inputs.  The
same ``(workload, seed, scale)`` always writes byte-identical parquet files;
another seed writes other files of the same shape.

Pages are built from the repository's ``documents`` test table at sf0.1
(``data/documents.parquet`` is a copy of its ``text``, ``lang`` and
``source`` columns).  Each source text is one paragraph; a page is a seeded
run of paragraphs of one language joined with ``\\n\\n``, so the language mix
and the paragraph lengths are the table's own.  The table plants exact
repeats and ``... dup`` near-copies of its own rows; those are left out, so
duplication exists only where a workload plants it.  Suffixes are appended
at the rates and in the form ``pipeline/pages.py`` injects them into the
same table (see ``PAGE_SHAPE``).
"""

from __future__ import annotations

import functools
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = Path(__file__).resolve().parent / "data" / "documents.parquet"
BASE_TS_US = 1_700_000_000 * 1_000_000
#: pages at least this long with no junk suffix are "clean": sure to share
#: no near-duplicate with another page unless a family plants one
CLEAN_MIN_WORDS = 30

#: Page shape shared by every workload.  The suffix shares are those of
#: ``pipeline/pages.py``, which injects each into the doc ids of one
#: residue class: e-mail and phone 1 in 10, IPv4 1 in 17, blocklist term
#: 1 in 23, junk symbols 1 in 19.
PAGE_SHAPE = {
    # paragraphs per page: lognormal (heavy tail), at least one
    "paragraphs_median": 3,
    "paragraphs_sigma": 0.9,
    "paragraphs_max": 60,
    "email": 1 / 10,
    "phone": 1 / 10,
    "ip": 1 / 17,
    "blocklist": 1 / 23,
    "junk": 1 / 19,
}
SUFFIXES = {
    "email": lambda n: f" Contact me at user{n}@example.com for details.",
    "phone": lambda n: f" Call (11) 9{n % 10000:04d}-5678 now.",
    "ip": lambda n: f" server ip 10.0.{n % 256}.{n * 7 % 256} logged.",
    "blocklist": lambda n: " this page mentions badword1 explicitly.",
    "junk": lambda n: " @@@ ### $$$ %%% ^^^ &&& *** !!! ~~~ ((( )))",
}

#: Workload parameters at scale 1.0 (counts scale linearly with ``scale``;
#: the set-up slice uses a small scale).
WORKLOADS = {
    # minhash signatures cost ~32 hashes per word 3-shingle, so the
    # workload that runs it uses one-paragraph pages mostly
    "dedup_crawl": {
        "paragraphs_median": 1,
        "unique_docs": 200,
        "exact_families": 20,
        "exact_family_size": (2, 5),
        "near_families": 25,
        "near_family_size": (2, 5),
        # 1-2 replaced words and a 2-word tail on 80-159 words: 3-shingle
        # Jaccard >= 0.9 to the family's first page, where 8 bands of 4
        # rows miss a pair about once in 5000
        "near_edit_rate": 0.01,
        "near_words_min": 80,
        "template_docs": 25,
        "template_words": 60,
        "template_body_words": 8,
        "files": 8,
    },
    "stream_drops": {
        "drops": 48,
        "docs_per_drop": 100,
        "redelivery_share": 0.10,
    },
}

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _rng(seed: int, *path: str) -> np.random.Generator:
    """Independent stream per (seed, component): adding a component never
    shifts the draws of another."""
    key = [seed] + [zlib.crc32(p.encode()) for p in path]
    return np.random.default_rng(key)


def _scaled(n: int, scale: float) -> int:
    return max(2, int(round(n * scale)))


@functools.lru_cache(maxsize=1)
def source_paragraphs() -> dict:
    """The source table's distinct, unplanted texts grouped by language:
    ``{lang: [(text, source), ...]}`` in table order."""
    t = pq.read_table(SOURCE, columns=["text", "lang", "source"]).to_pydict()
    seen, by_lang = set(), {}
    for text, lang, src in zip(t["text"], t["lang"], t["source"]):
        if text in seen or text.endswith(" dup"):
            continue
        seen.add(text)
        by_lang.setdefault(lang, []).append((text, src))
    return by_lang


@functools.lru_cache(maxsize=1)
def vocabulary() -> tuple[str, ...]:
    return tuple(sorted({
        w for rows in source_paragraphs().values() for t, _ in rows
        for w in t.split()
    }))


class ParagraphPool:
    """Source paragraphs dealt in a seeded order per language, each once
    before any repeats (``wraps`` counts the reshuffles)."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.rows = source_paragraphs()
        self.langs = sorted(self.rows)
        sizes = np.array([len(self.rows[k]) for k in self.langs])
        self.lang_p = sizes / sizes.sum()
        self.order = {k: self._shuffled(k) for k in self.langs}
        self.wraps = 0

    def _shuffled(self, lang: str) -> list[int]:
        return self.rng.permutation(len(self.rows[lang])).tolist()

    def lang(self, n: int) -> list[str]:
        """n page languages, drawn with the source's language shares."""
        return [self.langs[i] for i in
                self.rng.choice(len(self.langs), size=n, p=self.lang_p)]

    def take(self, lang: str, k: int) -> list[tuple[str, str]]:
        out = []
        while len(out) < k:
            if not self.order[lang]:
                self.wraps += 1
                self.order[lang] = self._shuffled(lang)
            out.append(self.rows[lang][self.order[lang].pop()])
        return out

    def words(self, lang: str, n: int) -> list[str]:
        """At least n words from a run of paragraphs (then cut to n)."""
        words = []
        while len(words) < n:
            words += self.take(lang, 1)[0][0].split()
        return words[:n]


def _paragraph_counts(rng, n: int, median: float) -> np.ndarray:
    """Heavy-tailed paragraph counts with a near-constant total: one
    lognormal draw per quantile stratum, shuffled, so a seed changes which
    page is long but hardly how many paragraphs the corpus holds."""
    from statistics import NormalDist

    u = (np.arange(n) + rng.random(n)) / n
    z = np.array([NormalDist().inv_cdf(min(max(x, 1e-9), 1 - 1e-9)) for x in u])
    counts = np.clip(
        np.round(median * np.exp(PAGE_SHAPE["paragraphs_sigma"] * z)),
        1, PAGE_SHAPE["paragraphs_max"],
    ).astype(int)
    rng.shuffle(counts)
    return counts


def _suffix(rng, text: str) -> tuple[str, bool]:
    """Append the pages.py suffixes a page draws; True if it got junk."""
    n = int(rng.integers(0, 100_000))
    hit = {k: rng.random() < PAGE_SHAPE[k] for k in SUFFIXES}
    return text + "".join(SUFFIXES[k](n) for k in SUFFIXES if hit[k]), hit["junk"]


def make_pages(rng, pool: ParagraphPool, n: int, paragraphs_median: float
               ) -> tuple[list[str], list[str], list[str], list[bool]]:
    """n page texts, their languages, source domains, and whether each is
    clean (no junk suffix, at least CLEAN_MIN_WORDS words)."""
    langs = pool.lang(n)
    counts = _paragraph_counts(rng, n, paragraphs_median)
    texts, sources, clean = [], [], []
    for lang, k in zip(langs, counts.tolist()):
        paras = pool.take(lang, k)
        text, junk = _suffix(rng, "\n\n".join(t for t, _ in paras))
        texts.append(text)
        sources.append(paras[0][1])
        clean.append(not junk and len(text.split()) >= CLEAN_MIN_WORDS)
    return texts, langs, sources, clean


def pages_table(rng, texts: list[str], langs: list[str],
                urls: list[str]) -> pa.Table:
    n = len(texts)
    ts = BASE_TS_US + rng.integers(0, 31_536_000, n) * 1_000_000
    html = [f"<html><body>{t}</body></html>".encode() for t in texts]
    return pa.table(
        [
            pa.array(urls, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
            pa.array(html, pa.binary()),
            pa.array(texts, pa.string()),
            pa.array(langs, pa.string()),
        ],
        schema=PAGES_SCHEMA,
    )


def make_urls(sources: list[str], prefix: str) -> list[str]:
    """pages.py's url form, one path per page."""
    return [f"https://{s}.example.com/{prefix}/{i:07d}"
            for i, s in enumerate(sources)]


def write_files(table: pa.Table, out_dir: Path, files: int) -> None:
    """Split ``table`` into ``files`` parquet files (row order kept)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).round().astype(int)
    for i in range(files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            out_dir / f"part-{i:05d}.parquet",
            compression="snappy",
        )


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _edit(rng, words: list[str], rate: float) -> list[str]:
    """Near-duplicate edit: replace ~rate of the words, then change the
    tail, so the copy differs from its source everywhere a little."""
    words = list(words)
    k = max(1, int(round(len(words) * rate)))
    pos = rng.choice(len(words), size=k, replace=False)
    for p, r in zip(pos.tolist(), _random_words(rng, k)):
        words[p] = r
    return words + _random_words(rng, 2)


def _random_words(rng, n: int) -> list[str]:
    vocab = vocabulary()
    return [vocab[int(i)] for i in rng.integers(0, len(vocab), n)]


def _respell(rng, text: str) -> str:
    """Exact-duplicate variant that normalizes equal: upper case, doubled
    spaces, padded ends."""
    form = int(rng.integers(0, 3))
    if form == 0:
        return text.upper()
    if form == 1:
        return text.replace(" ", "  ")
    return "  " + text + " \n"


def gen_dedup_crawl(seed: int, out: Path, scale: float = 1.0) -> dict:
    """Unique pages plus planted families: exact (respelled copies),
    near (edited copies) and one boilerplate template family."""
    w = WORKLOADS["dedup_crawl"]
    rng = _rng(seed, "dedup_crawl")
    pool = ParagraphPool(rng)
    n_unique = _scaled(w["unique_docs"], scale)
    texts, langs, sources, clean = make_pages(
        rng, pool, n_unique, w["paragraphs_median"]
    )
    groups: list[tuple[str, list[int]]] = []
    # exact families: a clean unique page plus respelled copies; sources
    # evenly spaced in length order, so the duplicated bytes hardly move
    # with the seed
    n_exact = _scaled(w["exact_families"], scale)
    lo, hi = w["exact_family_size"]
    by_len = sorted(np.flatnonzero(clean).tolist(), key=lambda i: len(texts[i]))
    src = np.array(by_len)[
        np.linspace(0, len(by_len) - 1, n_exact).round().astype(int)
    ]
    rng.shuffle(src)

    def add(text, lang, source):
        texts.append(text)
        langs.append(lang)
        sources.append(source)
        return len(texts) - 1

    # family sizes cycle through lo..hi, so every seed plants the same
    # number of copies and only their content moves
    for i, s in enumerate(src.tolist()):
        members = [s] + [
            add(_respell(rng, texts[s]), langs[s], sources[s])
            for _ in range(lo + i % (hi - lo + 1) - 1)
        ]
        groups.append(("exact", members))
    # near families: fresh paragraphs (min .. 2*min words) plus edited copies
    n_near = _scaled(w["near_families"], scale)
    lo, hi = w["near_family_size"]
    for i, lang in enumerate(pool.lang(n_near)):
        base = pool.words(lang, w["near_words_min"] * (n_near + i) // n_near)
        source = pool.take(lang, 1)[0][1]
        members = [
            add(" ".join(base if j == 0
                         else _edit(rng, base, w["near_edit_rate"])),
                lang, source)
            for j in range(lo + i % (hi - lo + 1))
        ]
        groups.append(("near", members))
    # one hot template family: shared boilerplate + a short unique body
    lang = pool.langs[0]
    boiler = " ".join(pool.words(lang, w["template_words"]))
    members = [
        add(boiler + "\n\n"
            + " ".join(_random_words(rng, w["template_body_words"])),
            lang, "template")
        for _ in range(_scaled(w["template_docs"], scale))
    ]
    groups.append(("template", members))
    if pool.wraps:
        raise ValueError("dedup_crawl needs more distinct source paragraphs")
    # shuffle rows so families spread over files and url order
    n = len(texts)
    perm = rng.permutation(n)
    inv = np.empty(n, dtype=int)
    inv[perm] = np.arange(n)
    texts = [texts[i] for i in perm.tolist()]
    langs = [langs[i] for i in perm.tolist()]
    urls = make_urls([sources[i] for i in perm.tolist()], "dc")
    table = pages_table(rng, texts, langs, urls)
    write_files(table, out / "pages", w["files"])
    grouped = {int(inv[m]) for _, ms in groups for m in ms}
    clean_rows = {int(inv[i]) for i in np.flatnonzero(clean)}
    return {
        "pages": str(out / "pages"),
        "files": w["files"],
        "docs": n,
        "text_bytes": _text_bytes(texts),
        "families": [
            {"kind": kind, "urls": sorted(urls[int(inv[m])] for m in ms)}
            for kind, ms in groups
        ],
        # clean pages outside every family: each must survive
        "singletons": sorted(
            urls[i] for i in sorted(clean_rows - grouped)
        ),
    }


def gen_stream_drops(seed: int, out: Path, scale: float = 1.0) -> dict:
    """Small parquet drops; a share of rows re-deliver an earlier page
    byte-identically (same url, text and timestamp)."""
    w = WORKLOADS["stream_drops"]
    rng = _rng(seed, "stream_drops")
    drops = max(2, int(round(w["drops"] * min(scale, 1.0))))
    per = _scaled(w["docs_per_drop"], scale)
    n_re_per = int(round(per * w["redelivery_share"]))
    n_fresh = drops * per - (drops - 1) * n_re_per
    texts, langs, sources, _ = make_pages(
        rng, ParagraphPool(rng), n_fresh, PAGE_SHAPE["paragraphs_median"]
    )
    base = pages_table(rng, texts, langs, make_urls(sources, "sd"))
    (out / "drops").mkdir(parents=True, exist_ok=True)
    pos = delivered_bytes = 0
    for d in range(drops):
        n_new = per if d == 0 else per - n_re_per
        parts = [base.slice(pos, n_new)]
        if d > 0:
            parts.append(base.take(rng.choice(pos, size=n_re_per, replace=False)))
        pos += n_new
        drop = pa.concat_tables(parts)
        delivered_bytes += pc.sum(pc.binary_length(drop["text"])).as_py()
        pq.write_table(
            drop, out / "drops" / f"drop-{d:05d}.parquet", compression="snappy"
        )
    return {"drops": str(out / "drops"), "docs": drops * per,
            "distinct_docs": n_fresh, "files": drops,
            "text_bytes": delivered_bytes}


GENERATORS = {
    "dedup_crawl": gen_dedup_crawl,
    "stream_drops": gen_stream_drops,
}


def _text_bytes(texts: list[str]) -> int:
    return sum(len(t.encode()) for t in texts)


def generate(workload: str, seed: int, out: Path, scale: float = 1.0) -> dict:
    """Write the inputs of ``workload`` under ``out``; returns the manifest
    (paths, document counts and the planted ground truth)."""
    return GENERATORS[workload](seed, Path(out), scale)
