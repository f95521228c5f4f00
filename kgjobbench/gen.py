"""Seeded input generators for the three benchmark workloads.

Everything here is built from the seed alone. The program under test
only ever sees the parquet files written by ``write_lexicon`` and
``write_pages``; the truth kept on the returned objects (planted
mentions, each page's text, non-``en`` urls, below-gate surface forms)
stays in the benchmark process and feeds ``checks.py``.

A page's text is assembled here from its words: lines are
``" ".join(words)`` joined by ``"\\n"``. The HTML is rendered from the
same words so that a correct extractor returns exactly that text; the
extractor of the package is never called, so a fault in it shows up as
failed checks instead of being copied into the truth.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

URI_PREFIX = "http://dbpedia.org/resource/"
STOPWORDS = ["the", "and", "of", "a", "to", "in", "is", "on", "for", "with",
             "that", "by", "as", "at", "from", "it", "was", "are", "be",
             "this"]
_TYPES = ["Person", "Place", "Organisation", "Work", "Species", "Event"]
_ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl", "gr", "kr",
           "pl", "pr", "sh", "sk", "sl", "st", "str", "th", "tr", "vl"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou", "y"]
_CODAS = ["", "", "", "n", "r", "s", "l", "m", "x", "nd", "rk", "st", "th"]
BASE_TS = datetime(2024, 3, 1)


# ---------------------------------------------------------------------------
# words


class WordMint:
    """Distinct made-up lowercase words; every class of words (surface
    form tokens, context words, filler) is minted from one instance, so
    the classes never share a word."""

    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.used: set[str] = set(STOPWORDS)

    def word(self, syllables: int) -> str:
        c = self.rng.choice
        while True:
            w = "".join(c(_ONSETS) + c(_VOWELS) + c(_CODAS)
                        for _ in range(syllables))
            if w not in self.used:
                self.used.add(w)
                return w

    def words(self, n: int, lo: int = 2, hi: int = 3) -> list[str]:
        return [self.word(self.rng.randint(lo, hi)) for _ in range(n)]


def zipf_cum(n: int, s: float) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 1..n, for
    ``random.choices(..., cum_weights=...)``."""
    return np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
                     ).tolist()


# ---------------------------------------------------------------------------
# lexicon


@dataclass
class Lexicon:
    sf_names: list[str] = field(default_factory=list)
    sf_ann: list[tuple[int, int]] = field(default_factory=list)
    sf_cands: list[list[tuple[int, int]]] = field(default_factory=list)
    ent_uris: list[str] = field(default_factory=list)
    ent_ctx: list[list[str]] = field(default_factory=list)
    ent_ctx_counts: list[list[int]] = field(default_factory=list)
    below_gate: set[str] = field(default_factory=set)
    _distinct: dict[tuple[int, int], list[str]] = field(default_factory=dict)

    def add_entity(self, name: str, ctx: list[str], counts: list[int]) -> int:
        eid = len(self.ent_uris)
        self.ent_uris.append(f"{URI_PREFIX}{name}_{eid}")
        self.ent_ctx.append(ctx)
        self.ent_ctx_counts.append(counts)
        return eid

    def add_sf(self, name: str, cands: list[tuple[int, int]],
               annotated: int, total: int) -> int:
        self.sf_names.append(name)
        self.sf_ann.append((annotated, total))
        self.sf_cands.append(sorted(cands, key=lambda c: -c[1]))
        if annotated / max(total, 1) < 0.05:
            self.below_gate.add(name)
        return len(self.sf_names) - 1

    def candidate_ids(self, sf_id: int) -> list[int]:
        return [e for e, _ in self.sf_cands[sf_id]]

    def tables(self, filler: list[str], rng: random.Random
               ) -> dict[str, pd.DataFrame]:
        """The lexicon tables ``model.load_model`` reads."""
        vocab: dict[str, int] = {}
        for w in filler:
            vocab[w] = vocab.get(w, 0) + 3000
        for w in STOPWORDS:
            vocab[w] = vocab.get(w, 0) + 50000
        tc_e, tc_w, tc_c = [], [], []
        for e, (ctx, counts) in enumerate(zip(self.ent_ctx,
                                              self.ent_ctx_counts)):
            for w, c in zip(ctx, counts):
                vocab[w] = vocab.get(w, 0) + c
                tc_e.append(e), tc_w.append(w), tc_c.append(c)
            for j in rng.sample(range(len(filler)), 4):
                tc_e.append(e), tc_w.append(filler[j]), tc_c.append(1 + j % 3)
        for name in self.sf_names:
            for w in name.split():
                vocab[w] = vocab.get(w, 0) + 400
        words = sorted(vocab)
        tok_id = {w: i for i, w in enumerate(words)}
        token_counts = (pd.DataFrame({
            "entity_id": np.asarray(tc_e, dtype=np.int64),
            "token_id": np.asarray([tok_id[w] for w in tc_w], dtype=np.int64),
            "count": np.asarray(tc_c, dtype=np.int64)})
            .groupby(["entity_id", "token_id"], as_index=False)["count"].sum())
        pair = [(s, e, c) for s, cands in enumerate(self.sf_cands)
                for e, c in cands]
        return {
            "surface_forms": pd.DataFrame({
                "sf": self.sf_names,
                "sf_id": np.arange(len(self.sf_names), dtype=np.int64),
                "annotated_count": [a for a, _ in self.sf_ann],
                "total_count": [t for _, t in self.sf_ann]}),
            "entities": pd.DataFrame({
                "uri": self.ent_uris,
                "entity_id": np.arange(len(self.ent_uris), dtype=np.int32),
                "support": [100 + 7 * e % 5000
                            for e in range(len(self.ent_uris))],
                "types": [[_TYPES[e % len(_TYPES)]]
                          for e in range(len(self.ent_uris))]}),
            "pair_counts": pd.DataFrame(pair, columns=["sf_id", "entity_id",
                                                       "count"]),
            "token_counts": token_counts,
            "token_types": pd.DataFrame({
                "token": words,
                "token_id": np.arange(len(words), dtype=np.int64),
                "corpus_count": [vocab[w] for w in words]}),
            "stopwords": pd.DataFrame({"token": STOPWORDS}),
        }


_ENTITY_SCHEMA = pa.schema([("uri", pa.string()), ("entity_id", pa.int32()),
                            ("support", pa.int64()),
                            ("types", pa.list_(pa.string()))])


def write_lexicon(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One parquet dir per table (the layout ``load_model`` reads)."""
    for name, df in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        schema = _ENTITY_SCHEMA if name == "entities" else None
        t = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
        pq.write_table(t, os.path.join(d, "part-00000.parquet"))


def entity_context(rng: random.Random, pool: list[str], n_ctx: int,
                   pool_cum: list[float]) -> tuple[list[str], list[int]]:
    """``n_ctx`` distinct context words drawn Zipf-weighted from
    ``pool``, each with a count in [15, 70)."""
    words: dict[str, None] = {}
    while len(words) < n_ctx:
        for w in rng.choices(pool, cum_weights=pool_cum, k=2 * n_ctx):
            words[w] = None
    ctx = list(words)[:n_ctx]
    return ctx, [15 + int(rng.random() * 55) for _ in ctx]


# ---------------------------------------------------------------------------
# pages


@dataclass
class Page:
    url: str
    lang: str
    lines: list[list[str]]             # text lines, as words
    planted: list[tuple[int, int, int, int]]  # (line, word_pos, sf_id, eid)
    html: bytes | None = None

    def text(self) -> str:
        return "\n".join(" ".join(ws) for ws in self.lines)

    def truth_rows(self, lex: Lexicon) -> list[tuple]:
        """(url, begin, end, sf, uri) of each planted mention, computed
        from the words, in char coordinates of ``text()``."""
        starts = [0]
        for ws in self.lines[:-1]:
            starts.append(starts[-1] + len(" ".join(ws)) + 1)
        rows = []
        for (li, pos, sf_id, eid) in self.planted:
            ws = self.lines[li]
            n = len(lex.sf_names[sf_id].split())
            b = starts[li] + sum(len(w) + 1 for w in ws[:pos])
            e = b + len(" ".join(ws[pos:pos + n]))
            rows.append((self.url, b, e, lex.sf_names[sf_id],
                         lex.ent_uris[eid]))
        return rows


class ParagraphBuilder:
    """Fills a paragraph with filler, then plants mentions (each with a
    few distinctive context words of its true entity) on free word
    positions."""

    def __init__(self, rng: random.Random, words: list[str]) -> None:
        self.rng = rng
        self.words = words
        self.free = [True] * len(words)

    def _slot(self, n: int, spaced: bool) -> int | None:
        """A free run of ``n`` words; with ``spaced``, its neighbours are
        free too, so two planted surface forms are never adjacent."""
        L, free = len(self.words), self.free
        for _ in range(12):
            pos = int(self.rng.random() * max(1, L - n + 1))
            lo, hi = (pos - (pos > 0), pos + n + 1) if spaced \
                else (pos, pos + n)
            if pos + n <= L and all(free[lo:hi]):
                return pos
        return None

    def plant(self, sf_tokens: list[str], ctx_words: list[str]) -> int | None:
        """Plant a mention and all its context words, or nothing."""
        n = len(sf_tokens)
        pos = self._slot(n, True)
        if pos is None:
            return None
        taken = list(range(pos, pos + n))
        for i in taken:
            self.free[i] = False
        slots = []
        for _ in ctx_words:
            p = self._slot(1, False)
            if p is None:
                for i in taken + slots:
                    self.free[i] = True
                return None
            self.free[p] = False
            slots.append(p)
        for j, t in enumerate(sf_tokens):
            self.words[pos + j] = t.capitalize() if self.rng.random() < 0.5 \
                else t
        for p, w in zip(slots, ctx_words):
            self.words[p] = w
        return pos


def distinct_ctx(lex: Lexicon, sf_id: int, eid: int, k: int,
                 rng: random.Random) -> list[str]:
    """k context words of ``eid`` that no other candidate of ``sf_id``
    (within the scored top-20) has in its context."""
    own = lex._distinct.get((sf_id, eid))
    if own is None:
        others: set[str] = set()
        for e in lex.candidate_ids(sf_id)[:20]:
            if e != eid:
                others.update(lex.ent_ctx[e])
        own = [w for w in lex.ent_ctx[eid] if w not in others]
        lex._distinct[(sf_id, eid)] = own
    return own if len(own) <= k else rng.sample(own, k)


# ---------------------------------------------------------------------------
# HTML rendering (Common-Crawl-like page shell around the text lines)

_JS_LINES = [
    "window.dataLayer = window.dataLayer || [];",
    "function gtag(){dataLayer.push(arguments);}",
    "var cfg = {site: 'x', ts: 1700000000, ab: [1, 2, 3]};",
    "for (var i = 0; i < cfg.ab.length; i++) { if (cfg.ab[i] > 1) break; }",
    "document.addEventListener('DOMContentLoaded', function () { init(); });",
    "var s = document.createElement('script'); s.async = true;",
    "if (a < b && b > c) { console.log('<div>' + a + '</div>'); }",
    "(function(w,d){var q=w.q||[];q.push(['track',d.title]);})(window,document);",
]
_CSS_LINES = [
    "body { margin: 0; font-family: sans-serif; }",
    ".nav a { color: #333; text-decoration: none; }",
    "#main p { line-height: 1.5; margin: 0 0 1em 0; }",
    "@media (max-width: 600px) { .side { display: none; } }",
    ".btn:hover { background: #eee; border-radius: 3px; }",
]


def _noise(rng: random.Random, lines: list[str], lo: int, hi: int) -> str:
    return "\n".join(rng.choices(lines, k=rng.randint(lo, hi)))


_HEAD_TAGS = (
    '<meta property="og:type" content="article">'
    '<meta name="robots" content="index, follow">'
    '<meta name="twitter:card" content="summary_large_image">'
    '<link rel="preconnect" href="https://cdn.example.net" crossorigin>'
    '<link rel="icon" type="image/png" sizes="32x32" href="/favicon.png">'
    '<link rel="alternate" hreflang="x-default" href="/">')
_ICON = ('<svg class="icon" viewBox="0 0 24 24" aria-hidden="true">'
         '<path d="M12 2L2 7l10 5 10-5-10-5z"/>'
         '<path d="M2 17l10 5 10-5M2 12l10 5 10-5"/></svg>')


def _render_words(rng: random.Random, words: list[str], host: str) -> str:
    """Words with inline markup around about a fifth of them."""
    out = []
    for w in words:
        x = rng.random()
        if w == "©":
            out.append("&copy;")
        elif x < 0.05:
            out.append(f"<b>{w}</b>")
        elif x < 0.10:
            out.append(f'<span class="hl" data-k="{w[:2]}">{w}</span>')
        elif x < 0.16:
            out.append(f'<a href="https://{host}/wiki/{w}" '
                       f'class="int" title="{w}">{w}</a>')
        elif x < 0.18:
            out.append(f"<i>{w}</i> <!-- ref -->")
        elif x < 0.20:
            out.append(f'<em class="x">{w}</em><sup><a href="#fn">'
                       "</a></sup>")
        else:
            out.append(w)
    return " ".join(out)


def render_html(rng: random.Random, page: Page, host: str,
                n_nav: int, n_foot: int, script_lines: tuple[int, int],
                style_lines: tuple[int, int]) -> bytes:
    """Lines are laid out as title, ``n_nav`` nav lines, the body
    paragraphs, then ``n_foot`` footer lines."""
    L = page.lines
    title, nav = L[0], L[1:1 + n_nav]
    body = L[1 + n_nav:len(L) - n_foot]
    foot = L[len(L) - n_foot:]
    h = [f'<!DOCTYPE html><html lang="{page.lang}"><head>'
         '<meta charset="utf-8">'
         f"<title>{' '.join(title)}</title>"
         f'<meta name="viewport" content="width=device-width">'
         f'<link rel="stylesheet" href="https://{host}/static/site.css">'
         + _HEAD_TAGS +
         f"<script>{_noise(rng, _JS_LINES, *script_lines)}</script>"
         f"<style>{_noise(rng, _CSS_LINES, *style_lines)}</style>"
         '</head><body class="page"><header class="top">'
         + _ICON * 3]
    for ws in nav:
        h.append('<div class="nav">' + " ".join(
            w if w == "|" else f'<a href="https://{host}/c/{w}">{w}</a>'
            for w in ws) + "</div>")
    h.append('</header><main id="main"><article>')
    for ws in body:
        if rng.random() < 0.25:
            h.append(f'<script type="text/javascript">'
                     f"{_noise(rng, _JS_LINES, 2, 6)}</script>")
        if rng.random() < 0.15:
            h.append('<div class="ad"><img src="https://ads.example/b.png" '
                     'alt="" width="300" height="250"/></div>')
        h.append('<div class="row"><div class="col-md-8 text">'
                 f"<p>{_render_words(rng, ws, host)}</p></div></div>\n")
    h.append("</article></main><footer>")
    for ws in foot:
        h.append(f"<div>{_render_words(rng, ws, host)}</div>")
    h.append(f"</footer><script>{_noise(rng, _JS_LINES, *script_lines)}"
             "</script></body></html>")
    return "".join(h).encode("utf-8")


def write_pages(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Write the page table as ``n_files`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    cols = {"url": pa.string(), "warc_ts": pa.timestamp("us", tz="UTC"),
            "html": pa.binary(), "text": pa.string(), "lang": pa.string()}
    schema = pa.schema([(c, t) for c, t in cols.items() if c in df.columns])
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        t = pa.Table.from_pandas(df.iloc[part], schema=schema,
                                 preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------------------
# crawl_annotate / recrawl_fold: Common-Crawl-style HTML pages


@dataclass
class CrawlSpec:
    n_pages: int
    n_single: int          # unambiguous one-token surface forms
    n_multi: int           # unambiguous 2-3 token surface forms
    n_ambiguous: int       # 2-5 candidates each
    n_below_gate: int
    ctx_pool: int
    n_ctx: int
    n_filler: int
    paras: tuple[int, int]
    para_words: tuple[int, int]
    mentions: tuple[int, int]
    script_lines: tuple[int, int]
    style_lines: tuple[int, int]
    non_en: float = 0.08
    mega_host: float = 0.25


CRAWL_ANNOTATE = CrawlSpec(
    n_pages=5000, n_single=1500, n_multi=600, n_ambiguous=250,
    n_below_gate=40, ctx_pool=10000, n_ctx=16, n_filler=3000,
    paras=(4, 8), para_words=(30, 60), mentions=(2, 6),
    script_lines=(8, 20), style_lines=(3, 8))

RECRAWL = CrawlSpec(
    n_pages=700, n_single=1000, n_multi=300, n_ambiguous=120,
    n_below_gate=30, ctx_pool=5000, n_ctx=16, n_filler=2000,
    paras=(3, 6), para_words=(30, 50), mentions=(3, 7),
    script_lines=(6, 14), style_lines=(2, 6))


class CrawlWorld:
    """Lexicon + a generator of Common-Crawl-style pages over it."""

    def __init__(self, spec: CrawlSpec, seed: int) -> None:
        self.spec = spec
        self.rng = random.Random(seed)
        mint = WordMint(self.rng)
        self.filler = mint.words(spec.n_filler, 1, 3)
        self.foreign = mint.words(800, 2, 3)
        self.filler_cum = zipf_cum(len(self.filler), 1.05)
        pool = mint.words(spec.ctx_pool, 2, 3)
        pool_cum = zipf_cum(len(pool), 0.6)
        lex = Lexicon()
        rng = self.rng

        def entity(name: str) -> int:
            ctx, counts = entity_context(rng, pool, spec.n_ctx, pool_cum)
            return lex.add_entity(name, ctx, counts)

        self.spottable: list[int] = []
        self.ambiguous: set[int] = set()
        for _ in range(spec.n_single):
            w = mint.word(rng.randrange(2, 4))
            sf = lex.add_sf(w, [(entity(w.capitalize()), rng.randrange(20, 900))],
                            rng.randrange(60, 100), 100)
            self.spottable.append(sf)
        for _ in range(spec.n_multi):
            toks = mint.words(rng.randrange(2, 4), 2, 3)
            name = " ".join(toks)
            e = entity("_".join(t.capitalize() for t in toks))
            sf = lex.add_sf(name, [(e, rng.randrange(20, 900))],
                            rng.randrange(50, 100), 100)
            self.spottable.append(sf)
            if rng.random() < 0.3:
                # nested surface form: the multi-word form's last token is
                # a surface form of its own, so the automaton matches both
                # and overlap resolution keeps the longer one
                last = toks[-1]
                nested = lex.add_sf(
                    last, [(entity(last.capitalize()), rng.randrange(20, 900))],
                    rng.randrange(50, 100), 100)
                self.spottable.append(nested)
        for _ in range(spec.n_ambiguous):
            w = mint.word(2)
            k = rng.randrange(2, 6)
            counts = sorted((rng.randrange(5, 600) for _ in range(k)),
                            reverse=True)
            cands = [(entity(f"{w.capitalize()}_{j}"), c)
                     for j, c in enumerate(counts)]
            sf = lex.add_sf(w, cands, rng.randrange(40, 90), 100)
            self.spottable.append(sf)
            self.ambiguous.add(sf)
        self.below: list[int] = []
        for _ in range(spec.n_below_gate):
            w = mint.word(2)
            e = entity(w.capitalize())
            self.below.append(lex.add_sf(w, [(e, 50)], 1, 1000))
        self.lex = lex
        # Zipfian popularity over the spottable surface forms
        rng.shuffle(self.spottable)
        self.sf_cum = zipf_cum(len(self.spottable), 0.9)
        self.n_hosts = 400
        self.host_words = mint.words(self.n_hosts, 2, 2)

    def tables(self) -> dict[str, pd.DataFrame]:
        return self.lex.tables(self.filler, self.rng)

    def host_of(self, i: int) -> str:
        r = (i * 2654435761) % 1000
        if r < self.spec.mega_host * 1000:
            return "www.megahost.example"
        return f"{self.host_words[i % self.n_hosts]}.example"

    def _filler_line(self, n: int, foreign: bool) -> list[str]:
        rng = self.rng
        if foreign:
            return rng.choices(self.foreign, k=n)
        ws = rng.choices(self.filler, cum_weights=self.filler_cum, k=n)
        return [w if x >= 0.3 else STOPWORDS[int(x * 66.6)]
                for w, x in zip(ws, [rng.random() for _ in ws])]

    def make_page(self, url: str, host: str, lang: str) -> Page:
        """A page: title, 1-2 nav lines, body paragraphs with planted
        mentions (also on non-``en`` pages, which the job must skip),
        sometimes a below-gate surface form, one footer line."""
        rng, spec, lex = self.rng, self.spec, self.lex
        foreign = lang != "en"
        title = self._filler_line(rng.randrange(3, 8), foreign)
        n_nav = rng.randrange(1, 3)
        nav = []
        for _ in range(n_nav):
            ws = self._filler_line(rng.randrange(3, 7), False)
            nav.append([x for w in ws for x in (w, "|")][:-1])
        n_par = rng.randrange(spec.paras[0], spec.paras[1] + 1)
        paras = [ParagraphBuilder(
            rng, self._filler_line(rng.randrange(*spec.para_words), foreign))
            for _ in range(n_par)]
        planted = []
        n_m = rng.randrange(spec.mentions[0], spec.mentions[1] + 1)
        used: set[tuple[int, int]] = set()
        for sf_id in rng.choices(self.spottable, cum_weights=self.sf_cum,
                                 k=n_m):
            p = rng.randrange(0, n_par)
            if (p, sf_id) in used:
                continue      # one (paragraph, sf) pair per crawl page
            cands = lex.candidate_ids(sf_id)
            if sf_id in self.ambiguous and rng.random() < 0.4:
                eid = cands[rng.randrange(1, len(cands))]
            else:
                eid = cands[0]
            ctx = distinct_ctx(lex, sf_id, eid, 3, rng) \
                if sf_id in self.ambiguous else []
            pos = paras[p].plant(lex.sf_names[sf_id].split(), ctx)
            if pos is not None:
                used.add((p, sf_id))
                planted.append((p, pos, sf_id, eid))
        if self.below and rng.random() < 0.3:
            b = self.below[rng.randrange(len(self.below))]
            paras[rng.randrange(n_par)].plant([lex.sf_names[b]], [])
        foot = ["©", "2024", host] + self._filler_line(3, False)
        lines = [title] + nav + [pb.words for pb in paras] + [foot]
        off = 1 + n_nav
        page = Page(url, lang, lines,
                    [(off + p, pos, sf, e) for (p, pos, sf, e) in planted])
        page.html = render_html(rng, page, host, n_nav, 1,
                                spec.script_lines, spec.style_lines)
        return page

    def new_page(self, i: int) -> Page:
        host = self.host_of(i)
        lang = "en" if self.rng.random() >= self.spec.non_en \
            else ("de" if self.rng.random() < 0.5 else "fr")
        return self.make_page(f"https://{host}/p/{i}", host, lang)


def page_frame(pages: list[Page], ts: list[datetime]) -> pd.DataFrame:
    return pd.DataFrame({"url": [p.url for p in pages], "warc_ts": ts,
                         "html": [p.html for p in pages],
                         "lang": [p.lang for p in pages]})


@dataclass
class AnnotateInputs:
    """Inputs and truth of an annotate workload."""
    lex: Lexicon
    tables: dict[str, pd.DataFrame]
    pages: pd.DataFrame
    truth: pd.DataFrame                    # url, begin, end, sf, uri
    texts: dict[str, str]
    non_en: set[str]


def _truth_frame(rows: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["url", "begin", "end", "sf", "uri"])


def crawl_annotate_inputs(seed: int,
                          n_pages: int | None = None) -> AnnotateInputs:
    spec = CRAWL_ANNOTATE
    w = CrawlWorld(spec, seed)
    pages = [w.new_page(i) for i in range(n_pages or spec.n_pages)]
    rows = [r for p in pages if p.lang == "en" for r in p.truth_rows(w.lex)]
    ts = [BASE_TS + timedelta(seconds=7 * i) for i in range(len(pages))]
    return AnnotateInputs(
        w.lex, w.tables(), page_frame(pages, ts), _truth_frame(rows),
        {p.url: p.text() for p in pages},
        {p.url for p in pages if p.lang != "en"})


# ---------------------------------------------------------------------------
# dense_link: pre-extracted text, short mention-dense paragraphs


@dataclass
class DenseSpec:
    n_docs: int = 2000
    n_ambiguous: int = 450
    n_single: int = 500
    n_below_gate: int = 20
    ctx_pool: int = 30000
    n_ctx: int = 48
    n_filler: int = 1500
    paras: tuple[int, int] = (3, 6)
    para_words: tuple[int, int] = (30, 45)
    mentions: tuple[int, int] = (3, 5)
    ambiguous_share: float = 0.85
    repeat_share: float = 0.25


DENSE = DenseSpec()


def dense_link_inputs(seed: int, n_docs: int | None = None) -> AnnotateInputs:
    spec = DENSE
    rng = random.Random(seed)
    mint = WordMint(rng)
    filler = mint.words(spec.n_filler, 1, 3)
    filler_cum = zipf_cum(len(filler), 1.0)
    pool = mint.words(spec.ctx_pool, 2, 3)
    pool_cum = zipf_cum(len(pool), 0.5)
    lex = Lexicon()

    def entity(name: str) -> int:
        ctx, counts = entity_context(rng, pool, spec.n_ctx, pool_cum)
        return lex.add_entity(name, ctx, counts)

    ambiguous, single = [], []
    for _ in range(spec.n_ambiguous):
        w = mint.word(2)
        r = rng.random()
        k = rng.randrange(3, 9) if r < 0.2 else (
            rng.randrange(9, 21) if r < 0.6 else rng.randrange(21, 41))
        counts = [int(1000 / (j + 1) ** 1.1) + 1 for j in range(k)]
        ambiguous.append(lex.add_sf(
            w, [(entity(f"{w.capitalize()}_{j}"), c)
                for j, c in enumerate(counts)],
            rng.randrange(40, 90), 100))
    for _ in range(spec.n_single):
        w = mint.word(2)
        single.append(lex.add_sf(w, [(entity(w.capitalize()), 100)], 80, 100))
    below = []
    for _ in range(spec.n_below_gate):
        w = mint.word(2)
        below.append(lex.add_sf(w, [(entity(w.capitalize()), 50)], 1, 1000))
    amb_cum = zipf_cum(len(ambiguous), 0.8)

    rows, texts, docs = [], {}, []
    for i in range(n_docs or spec.n_docs):
        url = f"https://corpus.example/doc/{i}"
        n_par = rng.randrange(spec.paras[0], spec.paras[1] + 1)
        lines, planted = [], []
        for p in range(n_par):
            n_w = rng.randrange(*spec.para_words)
            ws = rng.choices(filler, cum_weights=filler_cum, k=n_w)
            words = [w if x >= 0.3 else STOPWORDS[int(x * 66.6)]
                     for w, x in zip(ws, [rng.random() for _ in ws])]
            pb = ParagraphBuilder(rng, words)
            seen: dict[int, int] = {}        # sf -> eid in this paragraph
            for _ in range(rng.randrange(spec.mentions[0],
                                            spec.mentions[1] + 1)):
                if seen and rng.random() < spec.repeat_share:
                    # repeated (paragraph, sf) mention: same entity
                    sf_id = list(seen)[rng.randrange(len(seen))]
                    eid, ctx = seen[sf_id], []
                elif rng.random() < spec.ambiguous_share:
                    sf_id = rng.choices(ambiguous, cum_weights=amb_cum)[0]
                    if sf_id in seen:
                        continue
                    top = lex.candidate_ids(sf_id)[:20]
                    eid = top[rng.randrange(len(top))]
                    ctx = distinct_ctx(lex, sf_id, eid, 4, rng)
                else:
                    sf_id = single[rng.randrange(len(single))]
                    if sf_id in seen:
                        continue
                    eid, ctx = lex.candidate_ids(sf_id)[0], []
                pos = pb.plant([lex.sf_names[sf_id]], ctx)
                if pos is not None:
                    seen[sf_id] = eid
                    planted.append((p, pos, sf_id, eid))
            if rng.random() < 0.1:
                pb.plant([lex.sf_names[below[rng.randrange(len(below))]]],
                         [])
            lines.append(pb.words)
        page = Page(url, "en", lines, planted)
        rows.extend(page.truth_rows(lex))
        texts[url] = page.text()
        docs.append(page)
    df = pd.DataFrame({
        "url": [p.url for p in docs],
        "warc_ts": [BASE_TS + timedelta(seconds=i) for i in range(len(docs))],
        "text": [texts[p.url] for p in docs],
        "lang": "en"})
    return AnnotateInputs(lex, lex.tables(filler, rng), df, _truth_frame(rows),
                          texts, set())


# ---------------------------------------------------------------------------
# recrawl_fold: a base crawl plus rounds of recrawl batches


@dataclass
class Batch:
    pages: pd.DataFrame
    kind: dict[str, str]      # url -> changed | same | stale | new | replay


class Recrawl:
    """The live truth of a crawl under recrawl.

    ``base()`` is the crawl folded at set-up. ``fresh_batch()`` is a
    recrawl batch of changed pages, same-content re-captures (newer
    ``warc_ts``), stale captures (older than the url's folded capture,
    other content) and new urls. ``expect(batch)`` advances the truth
    the way a correct fold of it must."""

    MIX = (("changed", 0.45), ("same", 0.2), ("stale", 0.1), ("new", 0.25))

    def __init__(self, seed: int, batch_pages: int = 250,
                 base_pages: int | None = None) -> None:
        self.w = CrawlWorld(RECRAWL, seed)
        self.lex = self.w.lex
        self.batch_pages = batch_pages
        self.n_base = base_pages or RECRAWL.n_pages
        self.live: dict[str, tuple[datetime, Page]] = {}
        self.next_id = 0
        self.clock = BASE_TS
        self._pending: list[tuple[Page, datetime]] = []

    def _tick(self) -> datetime:
        self.clock += timedelta(seconds=1)
        return self.clock

    def base(self) -> pd.DataFrame:
        pages, ts = [], []
        for _ in range(self.n_base):
            p = self.w.new_page(self.next_id)
            self.next_id += 1
            pages.append(p)
            ts.append(self._tick())
        for p, t in zip(pages, ts):
            self.live[p.url] = (t, p)
        return page_frame(pages, ts)

    def fresh_batch(self) -> Batch:
        rng, n = self.w.rng, self.batch_pages
        counts = [int(round(share * n)) for _, share in self.MIX]
        urls = sorted(self.live)
        pick = rng.sample(range(len(urls)), sum(counts[:3]))
        pages, ts, kind = [], [], {}
        k = 0
        for (name, _), c in zip(self.MIX, counts):
            for _ in range(c):
                if name == "new":
                    p = self.w.new_page(self.next_id)
                    self.next_id += 1
                    t = self._tick()
                else:
                    url = urls[pick[k]]
                    k += 1
                    t_old, old = self.live[url]
                    host = url.split("/")[2]
                    if name == "same":
                        p, t = old, self._tick()
                    elif name == "changed":
                        p, t = self.w.make_page(url, host, old.lang), \
                            self._tick()
                    else:   # stale: other content, captured before t_old
                        p = self.w.make_page(url, host, old.lang)
                        t = t_old - timedelta(hours=1)
                pages.append(p)
                ts.append(t)
                kind[p.url] = name
        self._pending = list(zip(pages, ts))
        return Batch(page_frame(pages, ts), kind)

    def expect(self, batch: Batch) -> None:
        """Advance the truth by a fresh batch's non-stale captures."""
        for p, t in self._pending:
            if batch.kind[p.url] != "stale":
                self.live[p.url] = (t, p)

    def truth(self) -> pd.DataFrame:
        return _truth_frame([r for _, p in self.live.values()
                             if p.lang == "en" for r in p.truth_rows(self.lex)])
