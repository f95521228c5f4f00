"""S2 spot-XML source, S3 wiki-markup source, F5 coreference,
streaming annotate ≡ batch annotate, and checkpoint-resume (SURVEY §5.2
items 5–6)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.pipeline import PipelineConfig, annotate


# ---------------------------------------------------------------------------
# S2: spot-XML
# ---------------------------------------------------------------------------


def test_parse_spot_xml_roundtrip():
    from dbpedia_spotlight_spark.sources.spotxml import (
        parse_spot_xml, to_spot_xml,
    )
    text = "alpha0 visited beta0t0 beta0t1 today"
    spots = [("alpha0", 0), ("beta0t0 beta0t1", 15)]
    xml = to_spot_xml(text, spots)
    t2, s2 = parse_spot_xml(xml)
    assert t2 == text and s2 == spots
    assert parse_spot_xml("<not-xml") == ("", [])


def test_disambiguate_xml_matches_annotate(spark, web_pages, model_bc):
    """/disambiguate on the spots the FSA found must equal /annotate
    (same scoring path, spots supplied externally)."""
    from dbpedia_spotlight_spark.pipeline import spot
    from dbpedia_spotlight_spark.sources.spotxml import (
        disambiguate_xml, to_spot_xml,
    )
    cfg = PipelineConfig(disambiguator="generative")
    ann = annotate(spark, web_pages, model_bc, cfg)

    spots = spot(spark, web_pages, model_bc, cfg).collect()
    texts = {r.url: r.text for r in
             web_pages.filter(F.col("lang") == "en")
             .select("url", "text").collect()}
    by_url: dict[str, list] = {}
    for r in spots:
        # reconstruct the original-cased surface string from the text
        by_url.setdefault(r.url, []).append(
            (texts[r.url][r.begin:r.end], r.begin))
    xml_rows = [(url, to_spot_xml(texts[url], sps))
                for url, sps in by_url.items()]
    xml_df = spark.createDataFrame(xml_rows, "url string, xml string")
    dis = disambiguate_xml(spark, xml_df, model_bc, cfg)

    a = {(r.url, r.begin, r.end, r.uri) for r in ann.collect()}
    d = {(r.url, r.begin, r.end, r.uri) for r in dis.collect()}
    assert d == a


# ---------------------------------------------------------------------------
# S3: wiki markup
# ---------------------------------------------------------------------------


def test_strip_wiki_markup_anchors_and_offsets():
    from dbpedia_spotlight_spark.sources.wikimarkup import strip_wiki_markup
    wt = ("{{infobox|x=1}}'''Berlin''' is the capital of "
          "[[Germany]] and [[Bundesland|a state]].<ref>cite</ref> "
          "== History == [[File:map.png]]ok")
    text, anchors = strip_wiki_markup(wt)
    assert "{{" not in text and "'''" not in text and "<ref>" not in text
    for (b, e, anchor, target) in anchors:
        assert text[b:e] == anchor
    assert [(a, t) for (_, _, a, t) in anchors] == [
        ("Germany", "Germany"), ("a state", "Bundesland")]


def test_wiki_links_dataframe(spark):
    from dbpedia_spotlight_spark.sources.wikimarkup import wiki_links
    df = spark.createDataFrame(
        [("w/1", "see [[Apache Spark|Spark]] and [[Hadoop]]")],
        "url string, wikitext string",
    )
    rows = wiki_links(df).collect()
    assert {(r.sf, r.uri) for r in rows} == {
        ("Spark", "http://dbpedia.org/resource/Apache_Spark"),
        ("Hadoop", "http://dbpedia.org/resource/Hadoop"),
    }


def test_wiki_links_feed_model_build(spark):
    """S3 → M1/M2: wiki anchors are valid training links."""
    from dbpedia_spotlight_spark.plans.model_build import (
        pair_counts_from_links, uri_counts,
    )
    from dbpedia_spotlight_spark.sources.wikimarkup import wiki_links
    df = spark.createDataFrame(
        [("w/1", "[[Apache Spark|Spark]] beats [[Hadoop]]. [[Hadoop]] is old.")],
        "url string, wikitext string",
    )
    links = wiki_links(df)
    uc = {r.uri: r["count"] for r in uri_counts(links).collect()}
    assert uc["http://dbpedia.org/resource/Hadoop"] == 2
    pc = pair_counts_from_links(links).collect()
    assert {(r.sf, r["count"]) for r in pc} == {("spark", 1), ("hadoop", 2)}


# ---------------------------------------------------------------------------
# F5: coreference
# ---------------------------------------------------------------------------


def test_coreference_inherits_earlier_entity(spark, model_bc, model):
    """A later shorter mention that is a token-suffix of an earlier longer
    mention inherits its entity when coreference=True."""
    # beta0t0 beta0t1 is a 2-token sf; its suffix token beta0t1 is not an
    # sf on its own, so craft with gamma (ambiguous) instead is moot —
    # instead verify via the multi-word sfs in the session lexicon.
    from dbpedia_spotlight_spark.pipeline import _coref_merge
    sf_index = {name: i for i, name in enumerate(model.sf_names)}
    two = sf_index["beta0t0 beta0t1"]
    # synthetic scored rows: long mention at 0, fake short mention whose
    # name equals the suffix token — register it against a different sf id
    # that shares the suffix. Use gamma0 (ambiguous) for realism.
    g = sf_index["gamma0"]
    long_eid = 99
    scored = [
        (0, 15, two, long_eid, 1, 0.9, 0.0),
        (20, 26, g, 3, 1, 0.6, 0.5),
    ]
    # make gamma0's name a suffix of the long sf for this test
    model.sf_names[g] = "beta0t1"
    try:
        merged = _coref_merge(model, scored)
    finally:
        model.sf_names[g] = "gamma0"
    assert merged[1][3] == long_eid  # inherited
    assert merged[0][3] == long_eid


def test_coreference_config_runs(spark, web_pages, model_bc):
    cfg = PipelineConfig(disambiguator="generative", coreference=True)
    n = annotate(spark, web_pages, model_bc, cfg).count()
    assert n > 0


# ---------------------------------------------------------------------------
# streaming annotate ≡ batch annotate
# ---------------------------------------------------------------------------


def test_annotate_stream_equals_batch(spark, web_pages, model_bc, tmp_path):
    from dbpedia_spotlight_spark.streaming.annotate_stream import (
        annotate_stream, run_available_now,
    )
    src_dir = str(tmp_path / "pages")
    web_pages.write.mode("overwrite").parquet(src_dir)
    cfg = PipelineConfig(disambiguator="generative")
    stream = annotate_stream(spark, src_dir, model_bc, cfg)
    assert stream.isStreaming
    run_available_now(stream, str(tmp_path / "ann"), str(tmp_path / "ck"))
    got = spark.read.parquet(str(tmp_path / "ann"))
    batch = annotate(spark, spark.read.parquet(src_dir), model_bc, cfg)
    g = {(r.url, r.begin, r.end, r.uri) for r in got.collect()}
    b = {(r.url, r.begin, r.end, r.uri) for r in batch.collect()}
    assert g == b


# ---------------------------------------------------------------------------
# checkpoint-resume (SURVEY §5.2 item 5)
# ---------------------------------------------------------------------------


def test_write_resumable_skips_completed_units(spark, web_pages, model_bc,
                                               tmp_path):
    from dbpedia_spotlight_spark.sources.catalog import ParquetCatalog, unit_of
    cat = ParquetCatalog(str(tmp_path))
    cfg = PipelineConfig(disambiguator="prior")
    ann = annotate(spark, web_pages, model_bc, cfg).cache()
    N = 4

    def df_for_unit(u):
        return ann.filter(unit_of(F.col("url"), N) == u)

    executed: list[int] = []

    class Boom(Exception):
        pass

    def crash_after_two(unit, rows):
        executed.append(unit)
        if len(executed) == 2:
            raise Boom()

    with pytest.raises(Boom):
        cat.write_resumable(df_for_unit, "triples", N,
                            on_unit_done=crash_after_two)
    assert cat.completed_units("triples") == {0, 1}

    ran = cat.write_resumable(df_for_unit, "triples", N)
    assert ran == [2, 3]  # completed units NOT recomputed
    resumed = cat.read_units(spark, "triples")
    assert resumed.count() == ann.count()
    a = {(r.url, r.begin, r.end, r.uri) for r in resumed.collect()}
    b = {(r.url, r.begin, r.end, r.uri) for r in ann.collect()}
    assert a == b


def test_snapshot_time_travel_and_expiry(spark, tmp_path):
    """Iceberg-semantics fallback: committed snapshots are immutable and
    individually readable (time travel), the latest is the default read,
    and expire_snapshots bounds storage while keeping history readable
    for the retained window."""
    from dbpedia_spotlight_spark.sources.catalog import ParquetCatalog
    cat = ParquetCatalog(str(tmp_path))
    v0 = spark.range(5).withColumn("v", F.lit("a"))
    v1 = spark.range(8).withColumn("v", F.lit("b"))
    v2 = spark.range(3).withColumn("v", F.lit("c"))
    assert cat.write_snapshot(v0, "t") == 0
    assert cat.write_snapshot(v1, "t") == 1
    assert cat.write_snapshot(v2, "t") == 2
    snaps = cat.snapshots("t")
    assert [s["id"] for s in snaps] == [0, 1, 2]
    assert [s["parent"] for s in snaps] == [None, 0, 1]
    assert [s["rows"] for s in snaps] == [5, 8, 3]
    assert cat.read_snapshot(spark, "t").count() == 3          # latest
    old = cat.read_snapshot(spark, "t", snapshot_id=1)
    assert old.count() == 8 and old.first()["v"] == "b"        # time travel

    assert cat.expire_snapshots("t", keep_last=2) == [0]
    assert [s["id"] for s in cat.snapshots("t")] == [1, 2]
    assert cat.read_snapshot(spark, "t", snapshot_id=1).count() == 8
    with pytest.raises(FileNotFoundError):
        cat.read_snapshot(spark, "t", snapshot_id=0)           # expired
    with pytest.raises(FileNotFoundError):
        cat.read_snapshot(spark, "missing")


# --------------------------------------------------------------- WARC --

def test_warc_roundtrip_pure():
    from datetime import datetime
    from dbpedia_spotlight_spark.sources.warc import build_warc, parse_warc
    recs = [
        {"warc_type": "warcinfo", "url": None, "warc_ts": None,
         "body": b"software: test"},
        {"warc_type": "request", "url": "http://a.org/",
         "warc_ts": datetime(2024, 1, 1), "body": b"GET / HTTP/1.1"},
        {"warc_type": "response", "url": "http://a.org/",
         "warc_ts": datetime(2024, 1, 1, 12, 30), "http_status": 404,
         "body": b"<html>missing \r\n\r\n page</html>"},
    ]
    got = parse_warc(build_warc(recs))
    assert [r["warc_type"] for r in got] == ["warcinfo", "request",
                                             "response"]
    resp = got[2]
    assert resp["url"] == "http://a.org/"
    assert resp["warc_ts"] == datetime(2024, 1, 1, 12, 30)
    assert resp["http_status"] == 404
    # CRLFCRLF inside the body must survive (length-delimited, not
    # delimiter-scanned)
    assert resp["html"] == b"<html>missing \r\n\r\n page</html>"
    # gzip transparency
    import gzip
    assert parse_warc(gzip.compress(build_warc(recs))) == got
    # malformed tail: records before the corruption still parse
    blob = build_warc(recs) + b"WARC/1.0\r\nContent-Length: oops\r\n\r\n"
    assert len(parse_warc(blob)) == 3


def test_read_warc_spark_and_extraction_parity(spark, tmp_path):
    """WARC-born pages must be indistinguishable from parquet-born ones:
    same (url, warc_ts, html) triplets, same extracted text."""
    import gzip
    from dbpedia_spotlight_spark.datagen import make_corpus, make_lexicon
    from dbpedia_spotlight_spark.pipeline import extract_text
    from dbpedia_spotlight_spark.sources.warc import build_warc, read_warc

    pages, _ = make_corpus(make_lexicon(seed=42), n_docs=30, seed=11)
    recs = [
        {"warc_type": "response", "url": r.url, "warc_ts": r.warc_ts,
         "body": bytes(r.html)}
        for r in pages.itertuples()
    ]
    # two shards: one plain, one gzipped; plus a request record that the
    # default type filter must drop
    recs[0]["http_status"] = 200
    half = len(recs) // 2
    shard0 = build_warc(recs[:half] + [
        {"warc_type": "request", "url": "http://x/", "warc_ts": None,
         "body": b"GET /"}])
    shard1 = gzip.compress(build_warc(recs[half:]))
    (tmp_path / "s0.warc").write_bytes(shard0)
    (tmp_path / "s1.warc.gz").write_bytes(shard1)

    df = read_warc(spark, str(tmp_path))
    got = df.toPandas().sort_values("url").reset_index(drop=True)
    assert (got["warc_type"] == "response").all()
    assert len(got) == len(pages)

    want = pages.sort_values("url").reset_index(drop=True)
    assert list(got["url"]) == list(want["url"])
    # warc_ts second-granularity roundtrip (WARC-Date has no micros)
    assert [t.floor("s") for t in want["warc_ts"]] == list(got["warc_ts"])
    assert [bytes(a) for a in got["html"]] == [bytes(b) for b in want["html"]]

    ext = extract_text(df.select("url", "html")).toPandas() \
        .sort_values("url").reset_index(drop=True)
    assert list(ext["extracted_text"]) == list(want["text"])


def test_warc_content_type_capture_and_mime_gate(spark, tmp_path):
    """The HTTP Content-Type header survives into a lowercased column so
    the text/html gate is a plain prefix filter — the standard
    Common-Crawl 'drop pdf/images/json' step."""
    from datetime import datetime
    from pyspark.sql import functions as F
    from dbpedia_spotlight_spark.sources.warc import (
        build_warc, parse_warc, read_warc)

    ts = datetime(2024, 5, 1)
    recs = [
        {"warc_type": "response", "url": "http://a.org/p", "warc_ts": ts,
         "body": b"<html>x</html>",
         "content_type": "Text/HTML; Charset=UTF-8"},
        {"warc_type": "response", "url": "http://a.org/f.pdf",
         "warc_ts": ts, "body": b"%PDF-1.4",
         "content_type": "application/pdf"},
        {"warc_type": "response", "url": "http://a.org/d.json",
         "warc_ts": ts, "body": b"{}",
         "content_type": "application/json"},
    ]
    pure = parse_warc(build_warc(recs))
    assert [r["content_type"] for r in pure] == [
        "text/html; charset=utf-8", "application/pdf", "application/json"]

    (tmp_path / "s.warc").write_bytes(build_warc(recs))
    df = read_warc(spark, str(tmp_path))
    kept = df.filter(F.col("content_type").startswith("text/html"))
    assert [r["url"] for r in kept.collect()] == ["http://a.org/p"]


# ---------------------------------------------------------------------------
# streaming incremental KG maintenance (foreachBatch twin of triple_delta)
# ---------------------------------------------------------------------------


def _kg_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def test_maintain_kg_stream_recrawl_replaces(spark, web_pages, model_bc,
                                             tmp_path):
    """Two micro-batches: full crawl, then a recrawl of 3 urls with
    DIFFERENT text. Final store must equal the latest-capture batch
    recompute (recrawled urls' triples replaced, others untouched)."""
    import glob
    import time

    from dbpedia_spotlight_spark.streaming.kg_stream import (
        apply_pages_batch, maintain_kg_stream, _batch_triples,
    )
    from dbpedia_spotlight_spark.triples import provenance_url

    cfg = PipelineConfig(disambiguator="generative")
    cols = ["url", "warc_ts", "html", "text", "lang"]
    rows = web_pages.select(*cols).orderBy("url").collect()
    assert len(rows) >= 6
    batch1 = spark.createDataFrame(rows, schema=web_pages.select(*cols).schema)
    # recrawl: first 3 urls, LATER capture ts, EXTENDED html (annotate
    # extracts from html when present => changed triple sets for
    # exactly those urls)
    import datetime
    recrawl_rows = [
        (rows[i][0], rows[i][1] + datetime.timedelta(days=1),
         bytes(rows[i + 3][2]) + b"<p>" + bytes(rows[i][2]),
         rows[i][3], rows[i][4])
        for i in range(3)
    ]
    # plus an OLDER in-batch capture of url 0: per-url replace keeps the
    # newest capture only (latest_capture reduction inside the batch)
    stale = (rows[0][0], rows[0][1] - datetime.timedelta(days=1),
             bytes(rows[5][2]), rows[0][3], rows[0][4])
    batch2 = spark.createDataFrame(recrawl_rows + [stale],
                                   schema=web_pages.select(*cols).schema)

    src = tmp_path / "pages_stream"
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    # pin file order: the recrawl file must be the LATER micro-batch
    parts = sorted(glob.glob(str(src / "part-*.parquet")),
                   key=os.path.getmtime)
    assert len(parts) == 2
    now = time.time()
    os.utime(parts[0], (now - 10, now - 10))
    os.utime(parts[1], (now, now))

    store = maintain_kg_stream(
        spark, str(src), model_bc, str(tmp_path / "kg"),
        str(tmp_path / "kg_ck"), cfg, max_files_per_trigger=1)
    got = _kg_set(store.read())

    expect_b2 = spark.createDataFrame(recrawl_rows,
                                      schema=web_pages.select(*cols).schema)
    t1 = provenance_url(_batch_triples(annotate(spark, batch1, model_bc, cfg)))
    t2 = provenance_url(_batch_triples(annotate(spark, expect_b2, model_bc,
                                                cfg)))
    recrawled = {r[0] for r in recrawl_rows}
    expect = {
        (r.subj, r.pred, r.obj)
        for r in t1.collect() if r.url not in recrawled
    } | {(r.subj, r.pred, r.obj) for r in t2.collect()}
    assert got == expect
    # the recrawl actually changed something (non-vacuous)
    assert got != _kg_set(t1.select("subj", "pred", "obj"))

    # change log: exactly two generations were written, log is non-empty
    log = spark.read.parquet(str(tmp_path / "kg" / "delta_log"))
    assert log.filter(F.col("change") == "removed").count() > 0
    assert store.latest_gen() == 1

    # at-least-once replay: re-applying the recrawl batch is a no-op
    n = apply_pages_batch(spark, batch2, model_bc, store, batch_id=99,
                          cfg=cfg)
    assert n == 0
    assert store.latest_gen() == 1
    assert _kg_set(store.read()) == expect

    # stale-capture gate: re-running the whole stream with a FRESH
    # checkpoint is a NEW batch-id lineage, so the redelivery guard does
    # not apply — the micro-batches replay, but every capture's warc_ts
    # is ≤ the store's per-url watermark, so all are gated before
    # annotation and batch 0 cannot roll recrawled urls back to stale
    # content (data-level monotonicity, not lineage-scoped)
    assert store.latest_batch_id() == 1
    store2 = maintain_kg_stream(
        spark, str(src), model_bc, str(tmp_path / "kg"),
        str(tmp_path / "kg_ck2"), cfg, max_files_per_trigger=1)
    assert store2.latest_gen() == 1
    assert _kg_set(store2.read()) == expect


# ---------------------------------------------------------------------------
# sitemap source + crawl frontier
# ---------------------------------------------------------------------------


def test_parse_sitemap_urlset_and_index():
    from dbpedia_spotlight_spark.sources.sitemap import parse_sitemap
    xml = """<?xml version="1.0"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc>https://a.org/p?x=1&amp;y=2</loc>
           <lastmod>2024-03-05T10:20:30Z</lastmod>
           <changefreq>DAILY</changefreq><priority>0.8</priority></url>
      <url><loc>https://a.org/q</loc><lastmod>2024-03-05</lastmod></url>
      <url><lastmod>2024-01-01</lastmod></url>
      <url><loc>https://a.org/bad</loc><lastmod>not-a-date</lastmod>
           <priority>high</priority></url>
    </urlset>"""
    kind, entries = parse_sitemap(xml)
    assert kind == "urlset" and len(entries) == 3  # loc-less block skipped
    e0 = entries[0]
    assert e0["loc"] == "https://a.org/p?x=1&y=2"  # entity-unescaped
    import datetime
    assert e0["lastmod"] == datetime.datetime(2024, 3, 5, 10, 20, 30)
    assert e0["changefreq"] == "daily" and e0["priority"] == 0.8
    assert entries[1]["lastmod"] == datetime.datetime(2024, 3, 5)
    assert entries[2]["lastmod"] is None and entries[2]["priority"] is None

    # offset timezone normalizes to UTC
    _, [e] = parse_sitemap(
        "<urlset><url><loc>u</loc>"
        "<lastmod>2024-03-05T12:00:00+02:00</lastmod></url></urlset>")
    assert e["lastmod"] == datetime.datetime(2024, 3, 5, 10, 0, 0)

    kind, entries = parse_sitemap(
        "<sitemapindex><sitemap><loc>https://a.org/sm1.xml</loc></sitemap>"
        "<url><loc>ignored</loc></url></sitemapindex>")
    assert kind == "sitemapindex"
    assert [e["loc"] for e in entries] == ["https://a.org/sm1.xml"]

    assert parse_sitemap("<html>no</html>") == ("", [])
    assert parse_sitemap("") == ("", [])


def test_crawl_frontier_semantics(spark):
    import datetime
    from dbpedia_spotlight_spark.sources.sitemap import (
        read_sitemaps, crawl_frontier, expand_index,
    )
    t0 = datetime.datetime(2024, 1, 10)
    day = datetime.timedelta(days=1)

    def url_xml(loc, lastmod=None):
        lm = (f"<lastmod>{lastmod.isoformat()}Z</lastmod>"
              if lastmod else "")
        return f"<url><loc>{loc}</loc>{lm}</url>"

    body = "<urlset>" + "".join([
        url_xml("https://s.org/new", t0),            # never crawled
        url_xml("https://s.org/upd", t0 + day),      # crawled older
        url_xml("https://s.org/fresh", t0 - day),    # crawled newer
        url_xml("https://s.org/nolm"),               # crawled, no lastmod
        url_xml("https://s.org/upd#frag", t0 + day),  # canon-collapses
    ]) + "</urlset>"
    idx = ("<sitemapindex><sitemap><loc>https://s.org/sm2.xml</loc>"
           "</sitemap></sitemapindex>")
    docs = spark.createDataFrame(
        [("https://s.org/sitemap.xml", body),
         ("https://s.org/smidx.xml", idx)], "url string, text string")
    entries = read_sitemaps(docs)
    assert entries.count() == 6
    crawled = spark.createDataFrame(
        [("https://s.org/upd", t0), ("https://s.org/fresh", t0),
         ("https://s.org/nolm", t0)], "url string, warc_ts timestamp")
    got = {(r.canon_url, r.reason)
           for r in crawl_frontier(entries, crawled).collect()}
    assert got == {("https://s.org/new", "new"),
                   ("https://s.org/upd", "updated")}
    assert [r.loc for r in expand_index(entries).collect()] == [
        "https://s.org/sm2.xml"]


def test_fetch_rounds_politeness(spark):
    """Round scheduling: mega-host splits into ceil(n/limit) rounds of
    ~limit urls each, small hosts stay single-round, every url appears
    exactly once, and the assignment is layout-independent."""
    from dbpedia_spotlight_spark.sources.sitemap import fetch_rounds

    rows = [(f"https://big.example/p/{i}",) for i in range(300)] + \
           [(f"https://tiny.example/p/{i}",) for i in range(10)]
    f = spark.createDataFrame(rows, "canon_url string")
    out = fetch_rounds(f, per_host_limit=50).collect()

    assert len(out) == 310  # exactly-once cover
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, []).append(r)
    assert {r.n_rounds for r in by_host["big.example"]} == {6}
    assert {r.n_rounds for r in by_host["tiny.example"]} == {1}
    assert {r.fetch_round for r in by_host["tiny.example"]} == {0}
    per_round = {}
    for r in by_host["big.example"]:
        assert 0 <= r.fetch_round < 6
        per_round[r.fetch_round] = per_round.get(r.fetch_round, 0) + 1
    # expectation-based cap: 300 urls over 6 hash buckets ≈ 50 each;
    # 2x is far beyond multinomial fluctuation
    assert all(n <= 100 for n in per_round.values()), per_round
    assert len(per_round) == 6  # no empty round at this density

    # layout independence: same assignment from a different partitioning
    out2 = {(r.canon_url, r.fetch_round)
            for r in fetch_rounds(f.repartition(13), 50).collect()}
    assert out2 == {(r.canon_url, r.fetch_round) for r in out}


def test_kg_watermark_carry_forward_and_backfill_gate(spark, web_pages,
                                                      model_bc, tmp_path):
    """The per-url warc_ts watermark sidecar (a) gates an out-of-order
    batch-mode backfill of OLDER captures into a no-op, and (b) survives
    a fold whose pages carry no warc_ts column at all."""
    import datetime

    from dbpedia_spotlight_spark.streaming.kg_stream import (
        KGStore, apply_pages_batch,
    )

    store = KGStore(spark, str(tmp_path / "kg"))
    n0 = apply_pages_batch(spark, web_pages, model_bc, store, batch_id=0)
    assert n0 > 0 and store.latest_gen() == 0
    w0 = {r.url: r.warc_ts for r in store.read_url_watermarks().collect()}
    assert len(w0) == web_pages.count()

    # backfill: a crawl archive replays OLDER captures with different
    # bytes — the gate must drop them before annotation (delta empty)
    rows = web_pages.limit(3).collect()
    stale = spark.createDataFrame(
        [(r["url"], r["warc_ts"] - datetime.timedelta(days=30),
          bytes(r["html"]) + b"<p>Alpha1 from the past</p>", r["text"],
          r["lang"]) for r in rows], schema=web_pages.schema)
    assert apply_pages_batch(spark, stale, model_bc, store, 1) == 0
    assert store.latest_gen() == 0  # generation unchanged

    # ts-less fold: new url, no warc_ts column anywhere in the batch —
    # triples fold in, and the EXISTING watermarks carry forward
    extra = spark.createDataFrame(
        [("https://new.example/x", rows[0]["html"], rows[0]["text"],
          "en")], "url string, html binary, text string, lang string")
    n2 = apply_pages_batch(spark, extra, model_bc, store, 2)
    assert n2 > 0 and store.latest_gen() == 1
    w1 = {r.url: r.warc_ts for r in store.read_url_watermarks().collect()}
    assert w1 == w0  # preserved verbatim


def test_kg_store_time_travel_and_retention(spark, tmp_path):
    """retain_gens keeps N snapshot directories; read_asof serves a
    retained generation from its directory and reconstructs an expired
    one by net-change reversal over the delta log (including a triple
    removed then re-added — the min_by first-change case); reading past
    the expire_delta_log horizon raises instead of answering wrong."""
    import pytest as _pytest

    from dbpedia_spotlight_spark.streaming.kg_stream import KGStore

    store = KGStore(spark, str(tmp_path / "kg"), retain_gens=2)

    def triples(*rows):
        return spark.createDataFrame(
            [(s, "p", o) for s, o in rows],
            "subj string, pred string, obj string")

    def delta(*rows):
        return spark.createDataFrame(
            [(s.split("#")[0], s, "p", o, c) for s, o, c in rows],
            "url string, subj string, pred string, obj string, "
            "change string")

    A, B, C = ("u1#a", "A"), ("u2#b", "B"), ("u3#c", "C")
    # gen 0 {A} → gen 1 {A,B} → gen 2 {B,C} (A removed) → gen 3 {A,B,C}
    # (A re-added: exercises first-change-wins in the reversal)
    store.advance(triples(A), delta((*A, "added")), 0)
    store.advance(triples(A, B), delta((*B, "added")), 1)
    store.advance(triples(B, C),
                  delta((*A, "removed"), (*C, "added")), 2)
    store.advance(triples(A, B, C), delta((*A, "added")), 3)

    def tset(df):
        return {(r.subj, r.pred, r.obj) for r in df.collect()}

    t = lambda *rows: {(s, "p", o) for s, o in rows}
    # retention: only the newest retain_gens=2 snapshot dirs survive
    kept_dirs = sorted(p.name for p in (tmp_path / "kg").iterdir()
                       if p.name.startswith("gen-"))
    assert kept_dirs == ["gen-00002", "gen-00003"]

    assert tset(store.read_asof(3)) == t(A, B, C)   # directory read
    assert tset(store.read_asof(2)) == t(B, C)      # directory read
    assert tset(store.read_asof(1)) == t(A, B)      # log reversal
    assert tset(store.read_asof(0)) == t(A)         # log reversal
    for bad in (-1, 4):
        with _pytest.raises(ValueError, match="does not exist"):
            store.read_asof(bad)

    # diff between generations: log-aggregated net change. A's
    # remove(g2)+re-add(g3) nets out of diff(1,3); diff(0,2) carries
    # all three triples.
    def dset(df):
        return {(r.subj, r.obj, r.change) for r in df.collect()}

    assert dset(store.diff(0, 2)) == {
        ("u1#a", "A", "removed"), ("u2#b", "B", "added"),
        ("u3#c", "C", "added")}
    assert dset(store.diff(1, 3)) == {("u3#c", "C", "added")}
    assert store.diff(2, 2).count() == 0
    with _pytest.raises(ValueError, match="invalid generation"):
        store.diff(2, 1)

    # expire gens 0,1 from the log: gen 1 stays reachable (needs only
    # changes in (1,3]), gen 0 now raises rather than reconstructing —
    # for both read_asof and diff
    assert store.expire_delta_log(keep_last=2) == 2
    assert tset(store.read_asof(1)) == t(A, B)
    assert dset(store.diff(1, 3)) == {("u3#c", "C", "added")}
    with _pytest.raises(ValueError, match="no longer reaches"):
        store.read_asof(0)
    with _pytest.raises(ValueError, match="no longer reaches"):
        store.diff(0, 3)

    with _pytest.raises(ValueError, match="retain_gens"):
        KGStore(spark, str(tmp_path / "kg2"), retain_gens=0)


def test_read_wet_conversion_records(spark, tmp_path):
    """WET shards (conversion records, no HTTP envelope) round-trip
    through the same record parser; response records in the same shard
    are ignored; gzip shards parse identically."""
    import gzip as _gzip
    from datetime import datetime
    from dbpedia_spotlight_spark.sources.warc import build_warc, read_wet

    recs = [
        {"warc_type": "warcinfo", "body": b"software: test"},
        {"warc_type": "conversion", "url": "https://a.org/1",
         "warc_ts": datetime(2026, 1, 2, 3, 4, 5),
         "body": "Extracted text one.\nSecond line.".encode()},
        {"warc_type": "response", "url": "https://a.org/2",
         "warc_ts": datetime(2026, 1, 2, 3, 4, 6),
         "body": b"<html><body>raw</body></html>"},
        {"warc_type": "conversion", "url": "https://a.org/3",
         "warc_ts": datetime(2026, 1, 2, 3, 4, 7),
         "body": "Drei über UTF-8.".encode()},
    ]
    raw = build_warc(recs)
    d = tmp_path / "wet"
    d.mkdir()
    (d / "shard0.wet").write_bytes(raw)
    (d / "shard1.wet.gz").write_bytes(_gzip.compress(raw))

    out = read_wet(spark, str(d)).toPandas() \
        .sort_values(["warc_file", "record_index"]).reset_index(drop=True)
    assert len(out) == 4  # 2 conversion records x 2 shards
    assert set(out["url"]) == {"https://a.org/1", "https://a.org/3"}
    assert out[out["url"] == "https://a.org/3"]["text"].iloc[0] \
        == "Drei über UTF-8."
    # plain and gzip shards parse to identical records
    a = out[out["warc_file"].str.contains("shard0")][
        ["url", "text"]].reset_index(drop=True)
    b = out[out["warc_file"].str.contains("shard1")][
        ["url", "text"]].reset_index(drop=True)
    assert a.equals(b)


def test_catalog_compact_snapshot(spark, tmp_path):
    """Compaction rewrites a many-small-files snapshot into few files as
    a NEW snapshot — data identical, old snapshot still time-travelable,
    metadata-commit-last so a crash mid-rewrite never corrupts reads."""
    from dbpedia_spotlight_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(str(tmp_path))
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    sid0 = cat.write_snapshot(df.repartition(40), "t")     # 40 tiny files
    out = cat.compact_snapshot(spark, "t", target_bytes=1 << 30)
    assert out["files_before"] == 40
    assert out["files_after"] < 5
    assert out["snapshot_id"] == sid0 + 1
    a = sorted(r["id"] for r in cat.read_snapshot(spark, "t").collect())
    assert a == list(range(10_000))                        # data identical
    b = cat.read_snapshot(spark, "t", sid0)                # history intact
    assert b.count() == 10_000
    # second compact is a no-op (already few files)
    again = cat.compact_snapshot(spark, "t", target_bytes=1 << 30)
    assert again["snapshot_id"] is None


def test_fact_intervals_and_log_only_time_travel(spark, tmp_path):
    """fact_intervals folds the delta_log into one row per assertion
    episode (remove + re-add = two rows, live episode has NULL
    valid_to), and facts_asof reconstructs every generation's triple
    set from the LOG ALONE, matching KGStore.read_asof's
    snapshot+reversal answer at each gen."""
    from dbpedia_spotlight_spark.streaming.kg_stream import KGStore
    from dbpedia_spotlight_spark.triples import facts_asof, fact_intervals

    store = KGStore(spark, str(tmp_path / "kg"), retain_gens=2)

    def triples(*rows):
        return spark.createDataFrame(
            [(s, "p", o) for s, o in rows],
            "subj string, pred string, obj string")

    def delta(*rows):
        return spark.createDataFrame(
            [(s.split("#")[0], s, "p", o, c) for s, o, c in rows],
            "url string, subj string, pred string, obj string, "
            "change string")

    A, B, C = ("u1#a", "A"), ("u2#b", "B"), ("u3#c", "C")
    store.advance(triples(A), delta((*A, "added")), 0)
    store.advance(triples(A, B), delta((*B, "added")), 1)
    store.advance(triples(B, C),
                  delta((*A, "removed"), (*C, "added")), 2)
    store.advance(triples(A, B, C), delta((*A, "added")), 3)

    log = spark.read.parquet(f"{store.root}/delta_log")
    iv = {(r.subj, r.valid_from, r.valid_to)
          for r in fact_intervals(log).collect()}
    assert iv == {
        ("u1#a", 0, 2),      # A's first episode, closed by gen 2
        ("u1#a", 3, None),   # A re-added, live
        ("u2#b", 1, None),
        ("u3#c", 2, None),
    }
    for g in range(4):
        got = {(r.subj, r.pred, r.obj)
               for r in facts_asof(log, g).collect()}
        want = {(r.subj, r.pred, r.obj)
                for r in store.read_asof(g).collect()}
        assert got == want, f"gen {g}: {got} != {want}"


def test_allen_relations_all_seven(spark):
    """Every canonical Allen relation classifies correctly, live
    episodes (NULL valid_to) act as +inf, sentinel never leaks."""
    from dbpedia_spotlight_spark.triples import allen_relations
    rows = [
        # (subj, case) -> A = [0,10) vs B per case
        ("s0", "u", "p", "v1", 0, 10), ("s0", "u", "p", "v2", 12, 15),
        ("s1", "u", "p", "v1", 0, 10), ("s1", "u", "p", "v2", 10, 14),
        ("s2", "u", "p", "v1", 0, 10), ("s2", "u", "p", "v2", 5, 14),
        ("s3", "u", "p", "v1", 0, 10), ("s3", "u", "p", "v2", 0, 6),
        ("s4", "u", "p", "v1", 0, 10), ("s4", "u", "p", "v2", 2, 8),
        ("s5", "u", "p", "v1", 0, 10), ("s5", "u", "p", "v2", 4, 10),
        ("s6", "u", "p", "v1", 0, 10), ("s6", "u", "p", "v2", 0, 10),
        # two live episodes: finished_by at the horizon
        ("s7", "u", "p", "v1", 1, None), ("s7", "u", "p", "v2", 3, None),
    ]
    df = spark.createDataFrame(
        [(s, u, p, o, f, t) for s, u, p, o, f, t in rows],
        "subj string, url string, pred string, obj string, "
        "valid_from long, valid_to long")
    got = {r.subj: r.relation for r in allen_relations(df).collect()}
    assert got == {"s0": "before", "s1": "meets", "s2": "overlaps",
                   "s3": "starts", "s4": "contains",
                   "s5": "finished_by", "s6": "equals",
                   "s7": "finished_by"}
    live = {r.subj: (r.to_a, r.to_b)
            for r in allen_relations(df).collect()}
    assert live["s7"] == (None, None)  # sentinel unwrapped


def test_allen_relations_ordering_cap_and_conflicts(spark):
    from dbpedia_spotlight_spark.triples import (
        allen_relations, fact_conflicts)
    # canonical order: pair emitted sorted, never the inverse
    df = spark.createDataFrame(
        [("s", "u", "p", "v2", 5, 14), ("s", "u", "p", "v1", 0, 10)],
        "subj string, url string, pred string, obj string, "
        "valid_from long, valid_to long")
    [r] = allen_relations(df).collect()
    assert (r.obj_a, r.obj_b, r.relation) == ("v1", "v2", "overlaps")
    # over-cap groups drop whole
    big = spark.createDataFrame(
        [("s", "u", "p", f"v{i}", i, i + 2) for i in range(5)],
        "subj string, url string, pred string, obj string, "
        "valid_from long, valid_to long")
    assert allen_relations(big, max_group=4).count() == 0
    assert allen_relations(big, max_group=5).count() == 10
    # conflicts: co-valid different values only (same obj or
    # disjoint intervals never flag)
    mix = spark.createDataFrame(
        [("a", "u1", "p", "x", 0, 10), ("a", "u2", "p", "y", 5, None),
         ("b", "u", "p", "x", 0, 5), ("b", "u", "p", "y", 5, 9),
         ("c", "u1", "p", "x", 0, 8), ("c", "u2", "p", "x", 2, 6)],
        "subj string, url string, pred string, obj string, "
        "valid_from long, valid_to long")
    got = [(r.subj, r.relation) for r in fact_conflicts(mix).collect()]
    assert got == [("a", "overlaps")]


def test_fact_conflicts_composes_with_fact_intervals(spark):
    """End-to-end: a delta_log whose recrawl flips a value mid-life
    surfaces exactly the co-valid contradiction."""
    from dbpedia_spotlight_spark.triples import (
        fact_conflicts, fact_intervals)
    log = spark.createDataFrame(
        [("u", "e1", "p", "old", "added", 1),
         ("u", "e1", "p", "new", "added", 3),   # overlaps [1,None)
         ("u", "e1", "p", "old", "removed", 5),
         ("u", "e2", "p", "a", "added", 1),
         ("u", "e2", "p", "a", "removed", 2),
         ("u", "e2", "p", "b", "added", 2)],    # meets: clean handoff
        "url string, subj string, pred string, obj string, "
        "change string, gen long")
    got = [(r.subj, r.obj_a, r.obj_b, r.relation)
           for r in fact_conflicts(fact_intervals(log)).collect()]
    assert got == [("e1", "old", "new", "overlaps")]


def _iv_df(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, url string, pred string, obj string, "
              "valid_from long, valid_to long")


def test_coalesce_intervals_islands(spark):
    """Overlap and half-open adjacency fuse at max_gap=0; real gaps
    split; live episodes keep the window live; evidence counts."""
    from dbpedia_spotlight_spark.triples import coalesce_intervals
    rows = [
        # s0: [0,10) + [5,15) overlap, [15,20) adjacent -> [0,20);
        #     [25,30) separate island
        ("s0", "u1", "p", "v", 0, 10), ("s0", "u2", "p", "v", 5, 15),
        ("s0", "u1", "p", "v", 15, 20), ("s0", "u1", "p", "v", 25, 30),
        # s1: closed [0,5) then live [3,None) -> one live window
        ("s1", "u1", "p", "v", 0, 5), ("s1", "u1", "p", "v", 3, None),
        # s2: [0,2) then [4,6): gap of 2
        ("s2", "u1", "p", "v", 0, 2), ("s2", "u1", "p", "v", 4, 6),
    ]
    out = {(r.subj, r.valid_from): r
           for r in coalesce_intervals(_iv_df(spark, rows)).collect()}
    assert len(out) == 5
    w = out[("s0", 0)]
    assert (w.valid_to, w.n_episodes, w.n_sources) == (20, 3, 2)
    assert out[("s0", 25)].valid_to == 30
    assert out[("s1", 0)].valid_to is None
    assert out[("s1", 0)].n_episodes == 2
    assert out[("s2", 0)].valid_to == 2
    assert out[("s2", 4)].valid_to == 6
    # max_gap=2 fuses s2's episodes
    fused = coalesce_intervals(_iv_df(spark, rows), max_gap=2)
    s2 = [r for r in fused.collect() if r.subj == "s2"]
    assert [(r.valid_from, r.valid_to) for r in s2] == [(0, 6)]
    with pytest.raises(ValueError):
        coalesce_intervals(_iv_df(spark, rows), max_gap=-1)


def test_coalesce_intervals_matches_python_twin_on_random_episodes(spark):
    import random
    from dbpedia_spotlight_spark.triples import coalesce_intervals
    rng = random.Random(17)
    rows = []
    for s in range(12):
        for _ in range(rng.randrange(1, 7)):
            f = rng.randrange(0, 40)
            t = None if rng.random() < 0.15 else f + rng.randrange(1, 10)
            rows.append((f"s{s}", f"u{rng.randrange(3)}", "p", "v", f, t))
    INF = 1 << 62

    def twin(eps, gap):
        eps = sorted((f, t if t is not None else INF, u)
                     for (f, t, u) in eps)
        islands, cur = [], None
        for f, t, u in eps:
            if cur is None or f > cur[1] + gap:
                cur = [f, t, {u}, 1]
                islands.append(cur)
            else:
                cur[1] = max(cur[1], t)
                cur[2].add(u)
                cur[3] += 1
        return [(f, None if t == INF else t, len(us), n)
                for f, t, us, n in islands]

    for gap in (0, 3):
        got = {}
        for r in coalesce_intervals(_iv_df(spark, rows),
                                    max_gap=gap).collect():
            got.setdefault(r.subj, []).append(
                (r.valid_from, r.valid_to, r.n_sources, r.n_episodes))
        for s in got:
            got[s].sort()
        expect = {}
        for s, u, p, o, f, t in rows:
            expect.setdefault(s, []).append((f, t, u))
        expect = {s: twin(eps, gap) for s, eps in expect.items()}
        assert got == expect, f"gap={gap}"


def test_coalesce_composes_with_fact_intervals(spark):
    """End-to-end: change log -> episodes -> merged windows. A fact
    removed and re-added in the SAME generation shows no gap; one
    re-added later shows the true gap."""
    from dbpedia_spotlight_spark.triples import (
        coalesce_intervals, fact_intervals)
    log = spark.createDataFrame(
        [("u", "s", "p", "o", "added", 0),
         ("u", "s", "p", "o", "removed", 3),
         ("u", "s", "p", "o", "added", 3),     # flap within gen 3
         ("u", "s", "p", "o", "removed", 5),
         ("u", "s", "p", "o", "added", 8)],    # true gap [5, 8)
        "url string, subj string, pred string, obj string, "
        "change string, gen long")
    out = sorted((r.valid_from, r.valid_to, r.n_episodes)
                 for r in coalesce_intervals(
                     fact_intervals(log)).collect())
    assert out == [(0, 5, 2), (8, None, 1)]
