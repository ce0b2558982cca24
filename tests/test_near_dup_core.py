"""The shingle-set core shared by the near-dup operators
(functions/dedup: jaccard_verify, ngram_jaccard_pairs,
ngram_containment_pairs; functions/incremental: near_dup_against_pairs).

Boundary fixtures pin that the threshold compares the exact ratio (only
the reported column is rounded), and a seeded corpus with injected
near-duplicates is cross-checked against a DuckDB model of the same
pinned rules: 3-word shingles hashed to the 60-bit md5 long, MinHash
band buckets, the document-frequency cap of the inverted index (a pair's
intersection there counts only the shared shingles under the cap, while
the set sizes count every shingle), and the Jaccard / containment
ratios.
"""
import random

import duckdb
import pytest

from nail_parquet_spark.functions.dedup import (
    _MH_PRIME,
    _mh_params,
    jaccard_verify,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)
from nail_parquet_spark.functions.incremental import near_dup_against_pairs

S = "doc_id long, text string"
# 4 shared 3-word shingles out of a union of 6: Jaccard exactly 2/3,
# which rounds UP to 0.666667
SHORT, LONG = "a b c d e f", "a b c d e f g h"
ABOVE_TWO_THIRDS = 0.6666667


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_jaccard_threshold_compares_exact_ratio(spark):
    docs = spark.createDataFrame([(1, SHORT), (2, LONG)], S)
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    for thr, want in ((ABOVE_TWO_THIRDS, []), (2 / 3, [(1, 2, 0.666667)])):
        assert _pairs(jaccard_verify(docs, cand, "doc_id", "text",
                                     threshold=thr)) == want
        assert _pairs(ngram_jaccard_pairs(docs, "doc_id", "text",
                                          threshold=thr)) == want


def test_near_dup_against_threshold_compares_exact_ratio(spark):
    new = spark.createDataFrame([(1, SHORT)], S)
    prior = spark.createDataFrame([(2, LONG)], S)
    # one slot per band: the 2/3-similar pair collides in some band
    for thr, want in ((ABOVE_TWO_THIRDS, []), (2 / 3, [(1, 2, 0.666667)])):
        got = near_dup_against_pairs(new, prior, "doc_id", "text",
                                     threshold=thr, num_hashes=8, bands=8)
        assert _pairs(got) == want


def test_containment_threshold_compares_exact_ratio(spark):
    # A has 3 shingles, B has 4, they share 2: containment 2/3 and 1/2
    docs = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d x y")], S)
    for thr, want in ((ABOVE_TWO_THIRDS, []),
                      (2 / 3, [(1, 2, 0.666667, 0.5)])):
        assert _pairs(ngram_containment_pairs(docs, "doc_id", "text",
                                              threshold=thr)) == want


def _corpus():
    """~200 docs: random base docs, a boilerplate tail on some of them
    (frequent shingles the doc-frequency cap drops), edited copies,
    exact copies, base docs embedded in longer ones, and empty / NULL /
    short texts. Injected docs have ids >= 1000."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    tail = " click here to read more"
    base = []
    for i in range(150):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 24)))
        if rng.random() < 0.3:
            text += tail
        base.append((i, text))
    base += [(150, ""), (151, None), (152, "two words"), (153, "  A  B  C  ")]
    injected = []
    for j in range(46):
        src = rng.choice(base[:150])[1].split()
        kind = j % 4
        if kind == 0:                  # edited copy
            for _ in range(rng.randint(1, 3)):
                p = rng.randrange(len(src))
                op = rng.choice("sid")
                if op == "s":
                    src[p] = rng.choice(vocab)
                elif op == "i":
                    src.insert(p, rng.choice(vocab))
                elif len(src) > 3:
                    del src[p]
        elif kind == 1:                # exact copy, case and spacing vary
            src = [w.upper() if rng.random() < 0.2 else w for w in src]
        elif kind == 2:                # embedded in a longer doc
            src = ([rng.choice(vocab) for _ in range(rng.randint(5, 30))]
                   + src + [rng.choice(vocab) for _ in range(3)])
        else:                          # truncated copy
            src = src[:max(3, len(src) - rng.randint(1, 4))]
        injected.append((1000 + j, "  ".join(src) if kind == 1 else " ".join(src)))
    return base + injected


def _model(rows, num_hashes=8, bands=4, cap=5):
    """DuckDB model: (lsh+verify, ngram jaccard, containment, cross pairs)
    with EXACT ratios; thresholds 0.5, 0.5, 0.8, 0.5."""
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    slots = ",\n".join(
        f"min(({a1} * ('0x' || substr(md5(shingle), 1, 7))::BIGINT"
        f" + {a2} * ('0x' || substr(md5(shingle), 8, 7))::BIGINT"
        f" + {b}) % {_MH_PRIME}) AS mh_{i}"
        for i, (a1, a2, b) in enumerate(_mh_params(num_hashes)))
    per = num_hashes // bands
    buckets = " UNION ALL ".join(
        f"SELECT doc_id, '{b}' || "
        + " || ".join(f"'|' || mh_{b * per + r}::VARCHAR" for r in range(per))
        + " AS bucket FROM sig"
        for b in range(bands))
    con.execute(rf"""
        CREATE TABLE shh AS
        WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
          FROM docs WHERE trim(text) <> ''),
        sh AS (
          SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
          FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
          WHERE len(w) >= 3)
        SELECT doc_id, shingle,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
        FROM sh""")
    con.execute(f"""
        CREATE TABLE sizes AS SELECT doc_id, count(DISTINCT h) AS n
        FROM shh GROUP BY doc_id""")
    con.execute(f"""
        CREATE TABLE buckets AS
        WITH sig AS (SELECT doc_id, {slots} FROM shh GROUP BY doc_id)
        {buckets}""")

    def verify(inter, ratio, thr):
        return con.execute(f"""
            WITH hs AS (SELECT DISTINCT doc_id, h FROM shh),
            inter AS ({inter})
            SELECT a, b, {ratio} FROM inter
            JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
            WHERE greatest({ratio}) >= {thr}
            ORDER BY 1, 2""").fetchall()

    jac = "i * 1.0 / (sa.n + sb.n - i)"
    # MinHash candidates: every shared shingle counts
    bucket_inter = """
        WITH cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM buckets x
          JOIN buckets y ON x.bucket = y.bucket AND {cond})
        SELECT c.a, c.b, count(*) AS i FROM cand c
        JOIN hs x ON x.doc_id = c.a
        JOIN hs y ON y.doc_id = c.b AND y.h = x.h
        GROUP BY 1, 2"""
    # inverted index: only the shared shingles under the cap count
    capped_inter = f"""
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
        FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
        WHERE x.h IN (SELECT h FROM hs GROUP BY h HAVING count(*) <= {cap})
        GROUP BY 1, 2"""
    return (
        verify(bucket_inter.format(cond="x.doc_id < y.doc_id"), jac, 0.5),
        verify(capped_inter, jac, 0.5),
        verify(capped_inter, "i * 1.0 / sa.n, i * 1.0 / sb.n", 0.8),
        verify(bucket_inter.format(
            cond="x.doc_id >= 1000 AND y.doc_id < 1000"), jac, 0.5),
    )


def _same(got, want):
    """Ids equal; each reported ratio is the exact one rounded to 6."""
    assert [g[:2] for g in got] == [w[:2] for w in want]
    for g, w in zip(got, want):
        for gr, wr in zip(g[2:], w[2:]):
            assert gr == pytest.approx(wr, abs=5e-7 + 1e-12)


def test_near_dup_family_matches_duckdb_model(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, S)
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=8)
    cand = minhash_lsh_candidates(sigs, "doc_id", num_hashes=8, bands=4)
    got = (
        _pairs(jaccard_verify(df, cand, "doc_id", "text", threshold=0.5)),
        _pairs(ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5,
                                   max_doc_freq=5)),
        _pairs(ngram_containment_pairs(df, "doc_id", "text", threshold=0.8,
                                       max_doc_freq=5)),
        _pairs(near_dup_against_pairs(
            df.filter("doc_id >= 1000"), df.filter("doc_id < 1000"),
            "doc_id", "text", threshold=0.5, num_hashes=8, bands=4)),
    )
    want = _model(rows)
    for g, w in zip(got, want):
        _same(g, w)
    # the corpus exercises each operator, and the cap bites
    assert all(len(w) >= 10 for w in want)
    assert _pairs(ngram_jaccard_pairs(df, "doc_id", "text",
                                      threshold=0.5)) != got[1]
