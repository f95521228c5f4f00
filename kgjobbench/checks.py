"""Output checks, built from the generator's truth and never from the
package's own functions. Each check returns a list of failure strings;
an empty list means the output passed."""

from __future__ import annotations

import pandas as pd

PRED_ANCHOR = "nif:anchorOf"
PRED_IDENT = "itsrdf:taIdentRef"
MIN_PR = 0.95


def split_subj(triples: pd.DataFrame) -> pd.DataFrame:
    """Add url, begin, end parsed from ``<url>#char=<begin>,<end>``."""
    parts = triples["subj"].str.rsplit("#char=", n=1, expand=True)
    span = parts[1].str.split(",", n=1, expand=True)
    return triples.assign(url=parts[0], begin=span[0].astype(int),
                          end=span[1].astype(int))


def _keys(df: pd.DataFrame) -> set[tuple]:
    return set(zip(df["url"], df["begin"], df["end"], df["uri"]))


def link_pr(triples: pd.DataFrame, truth: pd.DataFrame) -> tuple[float, float]:
    links = split_subj(triples[triples["pred"] == PRED_IDENT]) \
        .rename(columns={"obj": "uri"})
    got, want = _keys(links), _keys(truth)
    hit = len(got & want)
    return hit / max(len(got), 1), hit / max(len(want), 1)


def check_links(triples: pd.DataFrame, truth: pd.DataFrame,
                what: str = "links") -> list[str]:
    """Link triples against the planted (url, begin, end, uri)."""
    p, r = link_pr(triples, truth)
    if p < MIN_PR or r < MIN_PR:
        return [f"{what}: P={p:.4f} R={r:.4f} below {MIN_PR}"]
    return []


def check_anchor_spans(triples: pd.DataFrame, texts: dict[str, str]
                       ) -> list[str]:
    """Every anchor triple's span, sliced from the generator's text,
    equals its surface form case-insensitively."""
    a = split_subj(triples[triples["pred"] == PRED_ANCHOR])
    bad = [(u, b, e, o) for u, b, e, o in zip(a["url"], a["begin"],
                                              a["end"], a["obj"])
           if u not in texts or texts[u][b:e].lower() != o.lower()]
    if bad or a.empty:
        return [f"anchor spans: {len(bad)} of {len(a)} do not match the "
                f"text, first {bad[:3]}"]
    return []


def check_excluded(triples: pd.DataFrame, non_en: set[str],
                   below_gate: set[str], below_uris: set[str]) -> list[str]:
    """No triple from a non-``en`` page or a below-gate surface form."""
    t = split_subj(triples)
    out = []
    n = int(t["url"].isin(non_en).sum())
    if n:
        out.append(f"{n} triples from non-en pages")
    anchors = t[t["pred"] == PRED_ANCHOR]["obj"].str.lower()
    n = int(anchors.isin(below_gate).sum()) + int(
        t[t["pred"] == PRED_IDENT]["obj"].isin(below_uris).sum())
    if n:
        out.append(f"{n} triples from below-gate surface forms")
    return out


def check_annotate(triples: pd.DataFrame, inputs) -> list[str]:
    lex = inputs.lex
    below_uris = {lex.ent_uris[e] for s, name in enumerate(lex.sf_names)
                  if name in lex.below_gate for e in lex.candidate_ids(s)}
    return (check_links(triples, inputs.truth)
            + check_anchor_spans(triples, inputs.texts)
            + check_excluded(triples, inputs.non_en, lex.below_gate,
                             below_uris))


def triples_of(kg: pd.DataFrame, urls: set[str]) -> set[tuple]:
    t = split_subj(kg)
    t = t[t["url"].isin(urls)]
    return set(zip(t["subj"], t["pred"], t["obj"]))


def check_unchanged(before: pd.DataFrame, after: pd.DataFrame,
                    urls: set[str], what: str) -> list[str]:
    """The triples of ``urls`` are identical before and after a fold."""
    a, b = triples_of(before, urls), triples_of(after, urls)
    if a != b:
        return [f"{what}: {len(a ^ b)} triples of {len(urls)} urls changed"]
    return []


def check_graph(kg: pd.DataFrame, incidence: pd.DataFrame,
                edges: pd.DataFrame) -> list[str]:
    """Co-mention incidence and edge counts equal a pandas recompute
    from the live snapshot."""
    links = split_subj(kg[kg["pred"] == PRED_IDENT])
    inc = links.groupby(["url", "obj"]).size()
    want_inc = {(u, o, int(n)) for (u, o), n in inc.items()}
    got_inc = set(zip(incidence["url"], incidence["uri"],
                      incidence["n_links"].astype(int)))
    pairs: dict[tuple[str, str], int] = {}
    for _, uris in links.groupby("url")["obj"]:
        u = sorted(set(uris))
        for i in range(len(u)):
            for j in range(i + 1, len(u)):
                pairs[(u[i], u[j])] = pairs.get((u[i], u[j]), 0) + 1
    want_edges = {(a, b, n) for (a, b), n in pairs.items()}
    got_edges = set(zip(edges["uri_a"], edges["uri_b"],
                        edges["n_docs"].astype(int)))
    out = []
    if got_inc != want_inc:
        out.append(f"graph incidence: {len(got_inc ^ want_inc)} rows differ "
                   "from the recompute")
    if got_edges != want_edges or not want_edges:
        out.append(f"graph edges: {len(got_edges ^ want_edges)} rows differ "
                   f"from the recompute ({len(want_edges)} expected)")
    return out


def check_verify(v: dict) -> list[str]:
    if not v.get("ok"):
        return [f"verify_snapshot disagrees: {v}"]
    return []
