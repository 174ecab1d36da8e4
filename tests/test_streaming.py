"""Structured Streaming wrapper test: file source → extraction →
parquet sink with checkpoint."""
import time

from tests.conftest import SF0001


def test_streaming_extraction(spark, tmp_path):
    from newspaper_spark.sources.transcripts import synthetic_transcripts
    from newspaper_spark.streaming.stream import start_extraction_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    t = synthetic_transcripts(spark, SF0001).limit(20)
    n = t.count()
    t.coalesce(2).write.parquet(in_dir)

    q = start_extraction_stream(spark, in_dir, out_dir, ckpt)
    try:
        deadline = time.time() + 120
        done = False
        while time.time() < deadline:
            q.processAllAvailable()
            try:
                if spark.read.parquet(out_dir).count() >= n:
                    done = True
                    break
            except Exception:
                pass
            time.sleep(1)
        assert done, "stream did not produce all rows in time"
    finally:
        q.stop()

    out = spark.read.parquet(out_dir)
    assert out.count() == n
    assert out.filter("status = 'ok'").count() == n


def test_windowed_counts_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked windowed agg: a row arriving later than the
    watermark delay must not reopen (or double-emit) its window."""
    import datetime as dt

    from newspaper_spark.streaming.stream import start_windowed_count_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t0 = dt.datetime(2020, 1, 1, 0, 0, 0)

    def add_batch(name, rows):
        # the file source lists top-level files only: stage the batch in
        # a scratch dir, then move its part file into in_dir
        import glob
        import shutil

        df = spark.createDataFrame(
            [("c", i, r, "x", "", ts) for i, (r, ts) in enumerate(rows)], schema
        )
        scratch = tmp_path / f"scratch_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        part = glob.glob(str(scratch / "part-*.parquet"))[0]
        shutil.move(part, str(in_dir / f"{name}.parquet"))

    # batch 1: 3 user turns in window [00:00, 00:10) + one row at 01:00
    # that advances the watermark past that window's end
    add_batch(
        "batch1",
        [("user", t0), ("user", t0 + dt.timedelta(minutes=2)),
         ("user", t0 + dt.timedelta(minutes=4)),
         ("assistant", t0 + dt.timedelta(hours=1))],
    )

    q = start_windowed_count_stream(
        spark, str(in_dir), out_dir, ckpt,
        window_duration="10 minutes", watermark_delay="10 minutes",
    )
    try:
        q.processAllAvailable()
        # batch 2: one LATE user row back in the first window (beyond
        # the watermark -> dropped) + a fresh row advancing time again
        add_batch(
            "batch2",
            [("user", t0 + dt.timedelta(minutes=3)),
             ("assistant", t0 + dt.timedelta(hours=2))],
        )
        q.processAllAvailable()
        # one more trigger so finalized state flushes to the sink
        add_batch("batch3", [("tool", t0 + dt.timedelta(hours=3))])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(out_dir)
    first = out.filter(
        (out.window_start == t0) & (out.role == "user")
    ).collect()
    # emitted exactly once, with the on-time count only (late row dropped)
    assert len(first) == 1, first
    assert first[0].n_turns == 3


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate content within the watermark
    window is collapsed to one row; state is watermark-bounded."""
    import pyspark.sql.functions as F

    from newspaper_spark.sources.transcripts import synthetic_transcripts
    from newspaper_spark.streaming.stream import start_dedup_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = synthetic_transcripts(spark, SF0001).limit(10)
    # duplicate every row once (same text => same fingerprint), with a
    # +1 minute ts shift, well inside the 30-minute watermark
    dup = base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 MINUTE")).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-dup"))
    )
    both = base.unionByName(dup)
    n_unique = base.select(F.md5(F.col("text"))).distinct().count()
    both.coalesce(2).write.parquet(in_dir)

    q = start_dedup_stream(spark, in_dir, out_dir, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(out_dir)
    assert out.count() == n_unique, f"{out.count()} != {n_unique}"
    # one row per fingerprint
    assert out.select("fingerprint").distinct().count() == n_unique


def test_streaming_stateless_quality_ops(spark, tmp_path):
    """The round-5 map-only quality/crawl operators (line_filters,
    gopher_filters, feed_urls) are stateless Column stages, so they
    compose with Structured Streaming unchanged — no watermark, no
    state store. Batch output over the same input must match exactly."""
    import pyspark.sql.functions as F

    from newspaper_spark.operators.feeds import feed_urls
    from newspaper_spark.operators.filters import gopher_filters, line_filters

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    rows = [
        (1, "NAV MENU\n" + "the data and the model we built with care " * 9
            + "\n42 likes"),
        (2, "READ MORE\nSubscribe now\nshort"),
        (3, "plain text line with several ordinary words here"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(in_dir)

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    cleaned = line_filters(stream)
    gated = gopher_filters(
        cleaned.select("doc_id", F.col("cleaned_text").alias("text"))
    ).select("doc_id", "n_words", "word_count_ok", "keep")
    q = (
        gated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {r.doc_id: r for r in spark.read.parquet(out_dir).collect()}
    batch_in = spark.read.parquet(in_dir)
    batch = {
        r.doc_id: r
        for r in gopher_filters(
            line_filters(batch_in).select(
                "doc_id", F.col("cleaned_text").alias("text")
            )
        ).select("doc_id", "n_words", "word_count_ok", "keep").collect()
    }
    assert set(streamed) == {1, 2, 3}
    for i in streamed:
        assert (streamed[i].n_words, streamed[i].word_count_ok,
                streamed[i].keep) == (
            batch[i].n_words, batch[i].word_count_ok, batch[i].keep)

    # feed_urls is likewise a pure select (posexplode is streaming-
    # supported): the plan must build against a streaming source
    feeds = feed_urls(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir)
        .select(F.col("doc_id").alias("feed_id"), F.col("text").alias("xml"))
    )
    assert feeds.isStreaming
    assert feeds.columns == ["feed_id", "url_idx", "url"]


def _availablenow_parquet(stream, out_dir, ckpt):
    """Drain ``stream`` once into a parquet sink; the written rows."""
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream.sparkSession.read.parquet(out_dir).collect()


def test_streaming_bloom_probe_model_equal(spark, tmp_path):
    """bloom_probe (map-only: one broadcast dense filter row, no
    aggregation, no state) on an availableNow stream must give exactly
    the verdicts of an independent hashlib model of the bit layout
    (md5-derived probe positions, membership = all k bits) — the probe
    side of a streaming crawl loop against batch-built filter state."""
    import hashlib

    import pyspark.sql.functions as F

    from newspaper_spark.operators.bloom import bloom_build, bloom_probe

    in_dir = str(tmp_path / "in")
    m, k = 512, 4  # tight m so false positives genuinely occur

    def pos(i, v):
        return int(hashlib.md5(f"{i}:{v}".encode()).hexdigest()[:15], 16) % m

    urls = [(i, f"http://h{i % 5}.com/p{i}") for i in range(200)]
    bits = {pos(i, u) for d, u in urls if d % 3 == 0 for i in range(k)}
    model = {d: all(pos(i, u) in bits for i in range(k)) for d, u in urls}

    cand = spark.createDataFrame(urls, "doc_id long, url string")
    words = bloom_build(
        cand.filter(F.col("doc_id") % 3 == 0).select("url"), "url", m=m, k=k
    )
    cand.write.parquet(in_dir)
    stream = spark.readStream.schema("doc_id long, url string").parquet(in_dir)
    gated = bloom_probe(stream, words, "url", m=m, k=k)
    assert gated.isStreaming
    streamed = {
        r.doc_id: r.possibly_seen
        for r in _availablenow_parquet(
            gated, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
    }
    assert len(streamed) == 200
    assert streamed == model
    # every true member flags (no false negatives), and at this tight m
    # at least one non-member false-positives — both regimes exercised
    assert all(streamed[i] for i in streamed if i % 3 == 0)
    assert any(streamed[i] for i in streamed if i % 3 != 0)
    assert not all(streamed[i] for i in streamed if i % 3 != 0)


def _robotparser_verdict(parser, agent, url):
    """(allowed, matched rule path) from urllib.robotparser's own
    parsed entries: the entry can_fetch picks (named entries in file
    order, then the default entry), then that entry's first rule line
    whose path prefixes the URL path."""
    import urllib.parse

    path = urllib.parse.urlparse(url).path or "/"
    entry = next(
        (e for e in parser.entries if e.applies_to(agent)), parser.default_entry
    )
    lines = entry.rulelines if entry else []
    line = next((ln for ln in lines if ln.applies_to(path)), None)
    verdict = (line.allowance, line.path) if line else (True, None)
    assert verdict[0] == parser.can_fetch(agent, url)
    return verdict


def test_streaming_robots_gate_stdlib_equal(spark, tmp_path):
    """robots_gate (rules packed per host into one line-ordered array,
    stream-static broadcast join + bounded first-match filter) on an
    availableNow stream must give urllib.robotparser's verdicts —
    allowed AND the deciding rule's path."""
    import urllib.robotparser as rp

    from newspaper_spark.operators.robots import parse_robots, robots_gate

    in_dir = str(tmp_path / "in")
    agent = "NewsBot/1.0"
    bodies = {
        "a.com": ("User-agent: newsbot\nDisallow: /private/\n"
                  "Allow: /private/ok.html\n\nUser-agent: *\nDisallow: /\n"),
        "b.com": "User-agent: *\nDisallow: /tag-\nDisallow:\n",
        "c.com": "",
        "d.com": "User-agent: other\nDisallow: /\n",
    }
    rules = parse_robots(
        spark.createDataFrame(list(bodies.items()), "host string, robots string")
    )
    paths = ["/private/ok.html", "/private/no.html", "/tag-x", "/open", ""]
    rows = [
        (i, f"http://{h}{p}", h)
        for i, (h, p) in enumerate((h, p) for h in bodies for p in paths)
    ]
    expected = {}
    for h, body in bodies.items():
        parser = rp.RobotFileParser()
        parser.parse(body.splitlines())
        for i, url, host in rows:
            if host == h:
                expected[i] = _robotparser_verdict(parser, agent, url)

    spark.createDataFrame(rows, "doc_id long, url string, host string").write.parquet(
        in_dir
    )
    stream = spark.readStream.schema(
        "doc_id long, url string, host string"
    ).parquet(in_dir)
    gated = robots_gate(stream, rules, agent)
    assert gated.isStreaming
    streamed = {
        r.doc_id: (r.allowed, r.matched_rule)
        for r in _availablenow_parquet(
            gated, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
    }
    assert len(streamed) == len(rows)
    assert streamed == expected
    # the fixture exercises both verdicts, an empty-Disallow allow-all
    # rule and a no-rules host
    assert any(v[0] for v in streamed.values())
    assert any(not v[0] for v in streamed.values())
    assert (True, "") in streamed.values() and (True, None) in streamed.values()


def test_streaming_chunk_text_batch_equal(spark, tmp_path):
    """chunk_text (map-only: tokenize + arithmetic window explode +
    slice, no aggregation, no state) on an availableNow stream must
    produce exactly the batch chunking — the RAG-prep operator a
    streaming ingest loop runs per micro-batch before embedding."""
    from newspaper_spark.operators.chunking import chunk_text

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    docs = [
        (i, " ".join(f"w{i}x{j}" for j in range(5 + (i * 11) % 40)))
        for i in range(80)
    ] + [(99, "")]
    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    batch_df.write.parquet(in_dir)

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    chunked = chunk_text(stream, chunk_tokens=8, stride=5)
    assert chunked.isStreaming
    q = (
        chunked.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    key = lambda r: (r.doc_id, r.chunk_id, r.start_tok, r.n_chunk_tokens,
                     r.chunk_text)
    streamed = sorted(key(r) for r in spark.read.parquet(out_dir).collect())
    batch = sorted(
        key(r) for r in chunk_text(batch_df, chunk_tokens=8, stride=5).collect()
    )
    assert streamed == batch
    assert len({d for d, *_ in streamed}) == 81  # every doc chunked
    assert any(n < 8 for _, _, _, n, _ in streamed)  # short finals occur


def test_streaming_source_meta_batch_equal(spark, tmp_path):
    """extract_source_meta (map-only: one Arrow UDF computing brand +
    meta-description, no aggregation, no state) on an availableNow
    stream must produce exactly the batch output — the shape a
    homepage-crawl ingest loop runs per micro-batch."""
    from newspaper_spark.operators.source_build import extract_source_meta

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    meta = '<meta name="description" content="Desc &amp; more %d">'
    rows = [
        (
            i,
            f"http://www.site{i}.co.uk/" if i % 2 else f"http://s{i}.com/",
            f"<html><head>{meta % i}</head></html>" if i % 3 else "<html/>",
        )
        for i in range(40)
    ]
    schema = "sid long, source_url string, html string"
    batch_df = spark.createDataFrame(rows, schema)
    batch_df.write.parquet(in_dir)

    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = extract_source_meta(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    key = lambda r: (r.sid, r.source_url, r.brand, r.description)
    streamed = sorted(key(r) for r in spark.read.parquet(out_dir).collect())
    batch = sorted(key(r) for r in extract_source_meta(batch_df).collect())
    assert streamed == batch
    # both verdict shapes exercised
    assert any(r[3] == "" for r in streamed)
    assert any(r[3].startswith("Desc & more") for r in streamed)
