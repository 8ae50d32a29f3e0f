"""Real-format ingestion readers (SURVEY.md S1-S6): fixture-file
round-trips, from_json (never eval) annotation parsing, typed TREC
scores (the W2 string-sort bug must not resurface)."""

import gzip
import json
import os
import pickle

from pyspark.sql import functions as F

from chameleon_entity_linking_spark.sources.ingest import (
    read_entity_annotations,
    read_jsonl_negatives,
    read_pickle_scores,
    read_trec_run,
    read_tsv_corpus,
    read_tsv_queries,
)


class TestTsvReaders:
    def test_corpus_round_trip(self, spark, tmp_path):
        p = str(tmp_path / "collection.tsv")
        with open(p, "w") as f:
            f.write("0\tThe quick brown fox.  \n")
            f.write("7\t  padded passage text\n")
        df = read_tsv_corpus(spark, p)
        assert df.schema.simpleString() == "struct<pid:bigint,text:string>"
        got = {r.pid: r.text for r in df.collect()}
        # strings are stripped at ingest (BiEncoder/model.py:32 analogue)
        assert got == {0: "The quick brown fox.", 7: "padded passage text"}

    def test_gzip_transparent(self, spark, tmp_path):
        p = str(tmp_path / "queries.tsv.gz")
        with gzip.open(p, "wt") as f:
            f.write("3\twhat is a fox\n")
        df = read_tsv_queries(spark, p)
        assert [(r.qid, r.text) for r in df.collect()] == [(3, "what is a fox")]


class TestEntityAnnotations:
    def test_from_json_parse_and_coalesce(self, spark, tmp_path):
        p = str(tmp_path / "entities.tsv")
        anns = [
            {"spot": "fox", "title": "Fox", "start": 16, "end": 19,
             "rho": 0.4, "id": 11},
            {"spot": "brown", "start": 10, "end": 15, "rho": 0.1, "id": 12},
        ]
        with open(p, "w") as f:
            f.write(f"5\t{json.dumps(anns)}\n")
            f.write("6\t[]\n")
        df = read_entity_annotations(spark, p)
        row = {r.id: r.annotations for r in df.collect()}
        assert [a.title for a in row[5]] == ["Fox", None]
        assert row[6] == []
        # P3/F10: title -> spot coalesce (BiEncoder/model.py:404)
        titles = (
            df.where("id = 5")
            .select(
                F.transform(
                    "annotations", lambda a: F.coalesce(a["title"], a["spot"])
                ).alias("t")
            )
            .collect()[0]
            .t
        )
        assert titles == ["Fox", "brown"]

    def test_reference_style_single_quotes_parse_safely(self, spark, tmp_path):
        # the reference's files are python-literal (single-quoted) and
        # it eval()s them (BiEncoder/train.py:73). from_json with
        # allowSingleQuotes reads that shape as DATA — unknown keys are
        # ignored, nothing is ever executed
        p = str(tmp_path / "ref_style.tsv")
        with open(p, "w") as f:
            f.write("9\t[{'spot': 'x', 'rho': 0.5, '__import__': 'os'}]\n")
        row = read_entity_annotations(spark, p).collect()[0]
        assert row.annotations[0].spot == "x"
        assert row.annotations[0].rho == 0.5

    def test_malformed_payload_is_null_not_evald(self, spark, tmp_path):
        p = str(tmp_path / "bad.tsv")
        with open(p, "w") as f:
            f.write("9\t[{'spot': 'x', unterminated\n")
            f.write("10\tnot json at all\n")
        rows = {r.id: r.annotations for r in read_entity_annotations(spark, p).collect()}
        assert rows[9] is None and rows[10] is None


class TestTrecRun:
    def test_parse_and_numeric_sort(self, spark, tmp_path):
        p = str(tmp_path / "run.dev")
        with open(p, "w") as f:
            f.write("1 Q0 100 1 10.0 bm25\n")
            f.write("1 Q0 101 2 9.5 bm25\n")
            f.write("2 Q0 200 1 0.3 bm25\n")
        df = read_trec_run(spark, p)
        assert dict(df.dtypes)["score"] == "double"
        # numeric ordering: 10.0 before 9.5 (a string sort — the
        # reference's merge_results bug — would invert these)
        top = (
            df.where("qid = 1").orderBy(F.desc("score")).select("pid").collect()
        )
        assert [r.pid for r in top] == [100, 101]

    def test_group_collect_candidates(self, spark, tmp_path):
        p = str(tmp_path / "run.dev")
        with open(p, "w") as f:
            for pid in (100, 101, 102):
                f.write(f"1 Q0 {pid} 1 1.0 t\n")
        got = (
            read_trec_run(spark, p)
            .groupBy("qid")
            .agg(F.sort_array(F.collect_list("pid")).alias("pids"))
            .collect()
        )
        assert [(r.qid, r.pids) for r in got] == [(1, [100, 101, 102])]


class TestJsonlNegatives:
    def _write(self, path, gz=False):
        rows = [
            {"qid": 1, "pos": [10], "neg": {"bm25": [20, 21, 22, 23, 24, 20],
                                            "dense": [30]}},
            {"qid": 2, "pos": [11, 12], "neg": {"bm25": [25]}},
        ]
        opener = gzip.open if gz else open
        with opener(path, "wt") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def test_schema_and_values(self, spark, tmp_path):
        p = str(tmp_path / "negs.jsonl.gz")
        self._write(p, gz=True)
        df = read_jsonl_negatives(spark, p)
        rows = {r.qid: r for r in df.collect()}
        assert rows[1].pos == [10] and rows[2].pos == [11, 12]
        assert sorted(rows[1].neg.keys()) == ["bm25", "dense"]


class TestPickleScores:
    def test_load(self, spark, tmp_path):
        p = str(tmp_path / "ce_scores.pkl.gz")
        with gzip.open(p, "wb") as f:
            pickle.dump({(1, 10): 0.9, (1, 11): 0.2, (2, 10): 0.5}, f)
        df = read_pickle_scores(spark, str(p))
        assert df.count() == 3
        got = {(r.qid, r.pid): r.score for r in df.collect()}
        assert got[(1, 10)] == 0.9


class TestTsvQuoteSafety:
    def test_quotes_and_backslashes_are_data(self, spark, tmp_path):
        """Raw-TSV semantics (the reference's line.split('\\t')): a
        leading double quote must not start a 'quoted field' that
        swallows tabs, and backslashes are not escapes."""
        p = str(tmp_path / "quoted.tsv")
        with open(p, "w") as f:
            f.write('1\t"A quoted passage" continues here\n')
            f.write('2\tback\\slash and "mid" quotes\n')
        got = {r.pid: r.text for r in read_tsv_corpus(spark, p).collect()}
        assert got[1] == '"A quoted passage" continues here'
        assert got[2] == 'back\\slash and "mid" quotes'
