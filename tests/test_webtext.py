"""Webtext layer: byte-identical extraction invariant, deterministic
generation, geocoding round-trip, skew shape."""

import hashlib

import numpy as np
import pytest

from richdem_spark.webtext import (
    extract_text,
    extract_text_batch,
    geocode,
    page_coords,
    rasterize_pages,
    render_html,
    synth_webtext,
)


def test_extract_text_batch_byte_identical():
    """The vectorized extractor must equal the frozen scalar function
    byte-for-byte (input_hint per-row invariant)."""
    import pandas as pd

    htmls = []
    for i in range(200):
        lat, lon = page_coords(np.array([i], dtype=np.uint64))
        htmls.append(render_html(
            f"https://site{i}.example.com/page/{i}", float(lat[0]),
            float(lon[0]), "en", ["alpha", "beta", f"w{i}"],
        ))
    # some adversarial cases
    htmls.append(b"<a><b>x</b>  y\n z</a>")
    htmls.append(b"no tags at all")
    htmls.append(b"<only><tags></tags></only>")
    scalar = [extract_text(h) for h in htmls]
    batch = extract_text_batch(pd.Series(htmls)).tolist()
    assert scalar == batch
    # frozen: hash of the extraction of a fixed page never changes
    h = hashlib.sha256(scalar[0].encode()).hexdigest()
    assert h == hashlib.sha256(extract_text(htmls[0]).encode()).hexdigest()


def test_generation_deterministic(spark):
    a = synth_webtext(spark, 500, seed=42).orderBy("url").collect()
    b = synth_webtext(spark, 500, seed=42, partitions=7).orderBy(
        "url").collect()
    assert a == b  # partition-count invariant
    assert len({r.url for r in a}) == 500


def test_geocode_roundtrip(spark):
    pages = synth_webtext(spark, 300, seed=1)
    geo = geocode(pages).select("url", "lat", "lon").collect()
    ids = np.array([int(r.url.rsplit("/", 1)[1]) for r in geo],
                   dtype=np.uint64)
    lat, lon = page_coords(ids, seed=1)
    got_lat = np.array([r.lat for r in geo])
    got_lon = np.array([r.lon for r in geo])
    assert np.allclose(got_lat, lat, atol=1e-4)
    assert np.allclose(got_lon, lon, atol=1e-4)


def test_geo_skew_exists(spark):
    """Zipf city mixture: the busiest raster cell must hold far more than
    the mean (the skew the north_rule demands explicit handling for)."""
    pages = geocode(synth_webtext(spark, 5000, seed=2))
    dem = rasterize_pages(pages, grid=128, tile=32, value="count")
    arr = dem.to_array()
    assert arr.max() > 10 * arr[arr > 0].mean()


def test_lsh_bucket_cap_and_jaccard_docfreq(spark):
    """Scale guards: oversized LSH buckets and high-doc-freq shingles are
    excluded from candidate generation; defaults leave results unchanged."""
    import pandas as pd
    from richdem_spark.textops import (
        minhash_lsh_pairs, ngram_jaccard_pairs, shingles,
    )

    docs = [(i, "common boiler plate text shared by every doc")
            for i in range(6)]
    docs += [(100, "a unique document about rivers and valleys here"),
             (101, "a unique document about rivers and valleys here")]
    df = spark.createDataFrame(pd.DataFrame(docs,
                                            columns=["doc_id", "text"]))
    sh = shingles(df)
    # default caps inactive: the 6-dup cluster + the pair both found
    pairs = minhash_lsh_pairs(sh).select("a", "b").distinct().count()
    assert pairs == 15 + 1
    # cap of 4: the 6-member buckets are dropped, the 2-member kept
    capped = minhash_lsh_pairs(sh, max_bucket_size=4) \
        .select("a", "b").distinct().collect()
    assert {(r.a, r.b) for r in capped} == {(100, 101)}
    # doc-freq cutoff: shingles in all 6 boilerplate docs removed
    jc = ngram_jaccard_pairs(sh, threshold=0.5, max_doc_freq=4).collect()
    assert {(r.a, r.b) for r in jc} == {(100, 101)}
    full = ngram_jaccard_pairs(sh, threshold=0.5).count()
    assert full == 15 + 1


def test_vectorized_generation_matches_scalar_construction(spark):
    """Round-6: synth_webtext assembles html/text vectorized; every byte
    must equal the frozen scalar render_html + extract_text pair."""
    from richdem_spark.webtext import _LANGS, _WORDS, _mix

    rows = synth_webtext(spark, 400, seed=42).collect()
    by_id = {int(r.url.rsplit("/", 1)[1]): r for r in rows}
    ids = np.array(sorted(by_id), dtype=np.uint64)
    lat, lon = page_coords(ids, 42)
    lang_ix = (_mix(ids, 48) % np.uint64(len(_LANGS))).astype(int)
    nwords = 8 + (_mix(ids, 49) % np.uint64(40)).astype(int)
    warr = np.array(_WORDS)
    for k, i in enumerate(ids):
        with np.errstate(over="ignore"):
            wix = [
                int(_mix(np.array([i * np.uint64(64) + np.uint64(j)],
                                  dtype=np.uint64), 51)[0]
                    % np.uint64(len(_WORDS)))
                for j in range(int(nwords[k]))
            ]
        url = f"https://site{int(i) % 997}.example.com/page/{int(i)}"
        html = render_html(url, float(lat[k]), float(lon[k]),
                           _LANGS[lang_ix[k]], warr[wix].tolist())
        r = by_id[int(i)]
        assert bytes(r.html) == html
        assert r.text == extract_text(html)


def test_short_pages_match_oracle(spark, tmp_path):
    """Pages with fewer than n=3 tokens (empty, blank, one or two words)
    emit no shingles, as in the DuckDB twin, instead of failing the
    shingle-based queries."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod

    texts = ["", "   ", "a", "a b", "a b c",
             "six words on this one page", "six words on this one page",
             "the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "rivers carve valleys  through the old  hills",
             "rivers carve valleys through the old hills slowly"]
    pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                  "text": texts}).to_parquet(
        tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute("create view documents as select * from "
                f"'{tmp_path / 'documents.parquet'}'")
    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()

    def norm(rows):
        return sorted(tuple(round(v, 6) if isinstance(v, float) else v
                            for v in r) for r in rows)

    for name in ("minhash_lsh_pairs", "ngram_jaccard"):
        sdf = queries[name](spark, str(tmp_path))
        got = norm(tuple(r) for r in sdf.collect())
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        assert cols == sdf.columns, name
        want = norm(res.fetchall())
        assert got == want, name
        assert (5, 6) in {r[:2] for r in got}, name


def test_shingles_split_each_page_once(spark, tmp_path):
    """The executed plan splits the text exactly once per page and has
    no higher-order-function lambda (which would re-split it once per
    shingle)."""
    import pandas as pd

    from richdem_spark.textops import shingles

    pd.DataFrame({"doc_id": np.arange(4, dtype=np.int64),
                  "text": ["a b c d", "e f g", "h", ""]}).to_parquet(
        tmp_path / "docs.parquet")
    sh = shingles(spark.read.parquet(str(tmp_path / "docs.parquet")),
                  distinct=False)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert "lambdafunction" not in plan, plan
    assert sorted(tuple(r) for r in sh.collect()) == [
        (0, "a b c"), (0, "b c d"), (1, "e f g")]
