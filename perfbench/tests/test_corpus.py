import os
import zlib

import corpus
from flows import CheckingSink


def _read(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_same_corpus(tmp_path):
    a = corpus.write_corpus(str(tmp_path / "a"), 7, files=3, rows_per_file=200, malformed_rate=0.01)
    b = corpus.write_corpus(str(tmp_path / "b"), 7, files=3, rows_per_file=200, malformed_rate=0.01)
    c = corpus.write_corpus(str(tmp_path / "c"), 8, files=3, rows_per_file=200, malformed_rate=0.01)
    assert _read(tmp_path / "a") == _read(tmp_path / "b")
    assert a == b
    assert _read(tmp_path / "a") != _read(tmp_path / "c")


def test_corpus_shape(tmp_path):
    exp = corpus.write_corpus(str(tmp_path), 3, files=4, rows_per_file=500, malformed_rate=0.01)
    assert exp.rows + exp.malformed == 2000
    assert 5 <= exp.malformed <= 45
    assert sum(exp.malformed_by_kind.values()) == exp.malformed
    assert 700 < exp.bytes / 2000 < 900  # NetObserv width, ~800 B a record
    text = b"".join(_read(tmp_path).values()).decode()
    missing = sum('"SrcK8S_Namespace"' not in l or '"DstK8S_Namespace"' not in l
                  for l in text.splitlines())
    assert 0.02 < missing / 2000 < 0.09


def _normalized(spark, path):
    from kafka_clickhouse_example_spark.operators.normalize import decode_flows, normalize_flows

    return normalize_flows(decode_flows(spark.read.text(path)))


def test_expected_matches_normalize_flows(spark, tmp_path):
    exp = corpus.write_corpus(str(tmp_path), 11, files=2, rows_per_file=400, malformed_rate=0.03)
    rows = _normalized(spark, str(tmp_path)).collect()
    assert len(rows) == exp.rows
    assert exp.malformed > 0
    checksum = sum(zlib.crc32(corpus.row_key(*r).encode()) for r in rows)
    assert checksum == exp.checksum
    # the benchmark's sink computes the same checksum inside Spark
    sink = CheckingSink()
    sink.write(_normalized(spark, str(tmp_path)), 0)
    assert (sink.batches[0]["rows"], sink.batches[0]["checksum"]) == (exp.rows, exp.checksum)


def test_each_malformed_kind_is_dropped(spark, tmp_path):
    import random

    rng = random.Random(5)
    ents = corpus._entities(rng, 10)
    clean, _ = corpus._record(rng, ents, 1_700_000_000_000)
    lines = [corpus._malform(rng, clean, k) for k in corpus.MALFORMED_KINDS for _ in range(5)]
    (tmp_path / "bad.json").write_text("\n".join(lines + [clean]) + "\n")
    assert _normalized(spark, str(tmp_path)).count() == 1
