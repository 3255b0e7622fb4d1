"""Seeded input generators for the benchmark.

Every generator takes the seed (and, for MovieLens, a size) and writes its
files into an output directory; the same seed always gives byte-identical
files. Nothing generated here is committed: run.py caches the files under
`.bench_build/inputs/` in the checkout and generates them before any timed
region, so generation stays outside every metric.

  movielens(out, seed, mb)  movies.csv + ratings.csv in MovieLens format
  sf01(out, seed)           documents/part/lineitem/orders/customer parquet
                            with the sf0.1 schemas and row counts
  embeddings(out, seed, n)  n unit vectors of 64 floats in 10 clusters
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# MovieRating's default support threshold (MovieAnalysis.movieRating).
MIN_COUNT = 10
RATING_LABELS = ["0.5", "1.0", "1.5", "2.0", "2.5", "3.0", "3.5", "4.0",
                 "4.5", "5.0"]
GENRES = ["Action", "Adventure", "Animation", "Comedy", "Crime", "Drama",
          "Fantasy", "Horror", "Romance", "Sci-Fi", "Thriller", "Western"]
# Approximate bytes per ratings.csv row, to size the file from `mb`
# (the rows average 27.2 bytes, so mb=250 gives 246 MB).
RATING_ROW_BYTES = 27.6


def _title(movie_id: int, year: int) -> str:
    # the FIXTURES.md §A cases: commas inside quoted titles, and titles that
    # carry doubled-quote escapes once written by the csv module
    if movie_id % 7 == 3:
        return f"Movie, The {movie_id} ({year})"
    if movie_id % 11 == 5:
        return f'Movie "{movie_id}" ({year})'
    return f"Movie {movie_id} ({year})"


def movielens(out: str, seed: int, mb: int) -> dict:
    """movies.csv + ratings.csv with ~`mb` MB of ratings.

    - movie popularity is Zipf-skewed (exponent 1.0 over a shuffled id set);
    - both files carry header rows;
    - titles hold quoted commas and doubled quotes;
    - about 0.5% of ratings name a movieId absent from movies.csv;
    - 40 movies get exactly MIN_COUNT ratings and 40 get MIN_COUNT + 1, all
      with a high average, so the strict `> minCount` support boundary of
      MovieRating is exercised on both sides;
    - every movie has its own rating bias, so some averages pass 4.0.
    """
    rng = np.random.default_rng(seed)
    n_ratings = int(mb * 1_000_000 / RATING_ROW_BYTES)
    n_movies = max(2_000, n_ratings // 150)
    os.makedirs(out, exist_ok=True)

    with open(os.path.join(out, "movies.csv"), "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["movieId", "title", "genres"])
        years = rng.integers(1920, 2024, n_movies)
        g1 = rng.integers(0, len(GENRES), n_movies)
        g2 = rng.integers(0, len(GENRES), n_movies)
        for m in range(1, n_movies + 1):
            i = m - 1
            genres = GENRES[g1[i]] if g1[i] == g2[i] else \
                f"{GENRES[g1[i]]}|{GENRES[g2[i]]}"
            w.writerow([m, _title(m, int(years[i])), genres])

    # the boundary movies take the highest ids and get their ratings below;
    # the Zipf draw covers the rest
    boundary = np.arange(n_movies - 79, n_movies + 1)
    zipf_ids = rng.permutation(n_movies - 80) + 1
    weights = 1.0 / np.arange(1, len(zipf_ids) + 1)
    n_missing = n_ratings // 200
    n_zipf = n_ratings - n_missing - 40 * MIN_COUNT - 40 * (MIN_COUNT + 1)
    movie = zipf_ids[rng.choice(len(zipf_ids), n_zipf, p=weights / weights.sum())]
    # join misses: ids past the end of movies.csv
    missing = n_movies + 1 + rng.integers(0, 500, n_missing)
    edge = np.concatenate([np.repeat(boundary[:40], MIN_COUNT),
                           np.repeat(boundary[40:], MIN_COUNT + 1)])
    movie_id = np.concatenate([movie, missing, edge]).astype(np.int32)
    order = rng.permutation(len(movie_id))
    movie_id = movie_id[order]

    # rating index 0..9 (0.5 .. 5.0): a per-movie bias plus noise
    bias = rng.normal(6.0, 1.5, n_movies + 600)
    bias[boundary - 1] = 8.5
    noise = rng.normal(0.0, 1.2, len(movie_id))
    idx = np.clip(np.rint(bias[movie_id - 1] + noise), 0, 9).astype(np.int32)
    n = len(movie_id)
    table = pa.table({
        "userId": pa.array(rng.integers(1, 250_000, n, dtype=np.int32)),
        "movieId": pa.array(movie_id),
        "rating": pa.DictionaryArray.from_arrays(pa.array(idx),
                                                 pa.array(RATING_LABELS)),
        "timestamp": pa.array(rng.integers(789_652_000, 1_700_000_000, n,
                                           dtype=np.int64)),
    })
    path = os.path.join(out, "ratings.csv")
    with open(path, "wb") as f:
        f.write(b"userId,movieId,rating,timestamp\n")
        pacsv.write_csv(table, f, pacsv.WriteOptions(include_header=False,
                                                     quoting_style="none"))
    return {"movies": n_movies, "ratings": n,
            "bytes": os.path.getsize(path) +
            os.path.getsize(os.path.join(out, "movies.csv"))}


# documents in the generated sf0.1 corpus (the testdata's count)
SF01_DOCS = 5_000

# documents vocabulary: the sf testdata's 30 words ('spark' and 'stream' are
# on the curation scrub blocklist)
WORDS = np.array(["spark", "window", "merge", "table", "column", "vector",
                  "stream", "value", "data", "small", "join", "filter", "big",
                  "group", "hash", "customer", "sort", "order", "slow", "line",
                  "part", "fast", "row", "the", "agg", "key", "query", "a",
                  "scan", "batch"])


def _documents(rng, n: int) -> pa.Table:
    """Word soup of 10-100 tokens; ~5% near-duplicates (an earlier text plus
    " dup") and ~0.2% exact copies, the shape of the sf testdata corpus."""
    texts = []
    lens = rng.integers(10, 101, n)
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            base = texts[src[i]]
            texts.append(base if base.endswith(" dup") else base + " dup")
        elif i > 0 and kind[i] < 0.052:
            texts.append(texts[src[i]])
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), lens[i])]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang = langs[np.searchsorted([0.41, 0.55, 0.70, 0.85, 1.0], rng.random(n))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def sf01(out: str, seed: int) -> dict:
    """The sf0.1 tables the benchmark's registered queries read, with the
    driver testdata's schemas (FIXTURES.md §B) and row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_part, n_line, n_ord, n_cust = 20_000, 600_000, 150_000, 15_000
    pq.write_table(_documents(rng, SF01_DOCS), os.path.join(out, "documents.parquet"))

    brands = np.array([f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)])
    types = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(1, n_part + 1)]),
        "p_brand": pa.array(brands[rng.integers(0, len(brands), n_part)].tolist()),
        "p_type": pa.array(types[rng.integers(0, len(types), n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2)),
    }), os.path.join(out, "part.parquet"))

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)].tolist()),
    }), os.path.join(out, "customer.parquet"))

    day = np.datetime64("1992-01-01", "ms")
    odate = day + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 450_000, n_ord), 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)].tolist()),
    }), os.path.join(out, "orders.parquet"))

    okey = np.sort(rng.integers(1, n_ord + 1, n_line)).astype(np.int64)
    first = np.r_[True, okey[1:] != okey[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    flags = np.array(["A", "N", "R"])
    price = np.round(rng.uniform(900, 105_000, n_line), 2)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n_line, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_line) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n_line)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, n_line)].tolist()),
        "l_shipdate": pa.array(day + rng.integers(0, 2500, n_line)
                               .astype("timedelta64[D]")),
    }), os.path.join(out, "lineitem.parquet"))
    return {"documents": SF01_DOCS, "lineitem": n_line}


def embeddings(out: str, seed: int, n: int = 20_000, dim: int = 64) -> dict:
    """`n` unit vectors of `dim` float32s drawn around 10 labelled centres,
    the shape of the sf testdata embeddings at 10x rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    centres = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + rng.normal(0, 1.2, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    }), os.path.join(out, "embeddings.parquet"))
    return {"vectors": n, "dim": dim}
