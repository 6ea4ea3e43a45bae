"""HTML → text extraction and deterministic hash-based corpus
sampling/splitting: hand vectors, DuckDB exact-row parity, determinism
under repartitioning, and the monotone-threshold property."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.functions import htmltext
from mysql_data_quality_spark.operators import sampling
from tests.conftest import SF_CORRECT


class TestHtmlExtract:
    VECTORS = [
        (1, "<html><head><title>T</title><style>p{x}</style></head>"
            "<body><p>Hello world.</p><p>Second para.</p></body></html>",
         "T\nHello world.\nSecond para."),
        (2, "<div>a<br>b</div><script type='x'>var q = '<p>';</script>c",
         "a\nb\nc"),
        (3, "<!-- hidden --><b>bold</b> &amp;lt; &lt; &gt; &nbsp;&quot;q&quot; &#39;s&#39;",
         'bold &lt; < > "q" \'s\''),
        (4, "plain text, no markup at all", "plain text, no markup at all"),
        (5, "", ""),
        (6, None, ""),
        (7, "<ul><li>one</li><li>two</li></ul>", "one\ntwo"),
    ]

    def test_vectors_and_duckdb_parity(self, spark, duck):
        rows = [
            (i, h.encode("utf-8") if h is not None else None)
            for i, h, _ in self.VECTORS
        ]
        df = spark.createDataFrame(rows, "id: bigint, html: binary")
        got = {
            r["id"]: r["t"]
            for r in df.select(
                "id", htmltext.extract_text_col(F.col("html")).alias("t")
            ).collect()
        }
        for i, _, want in self.VECTORS:
            assert got[i] == want, (i, got[i])
        duck.register("html_t", pd.DataFrame(rows, columns=["id", "html"]))
        for i, t in duck.sql(
            f"select id, {htmltext.extract_text_sql('html')} from html_t"
        ).fetchall():
            assert got[i] == t, (i, t)

    def test_pages_with_extracted_text(self, spark):
        """Non-null text stays byte-identical; null text fills from html;
        the filter runs end-to-end over the extracted column."""
        from mysql_data_quality_spark.pipeline import pages as P
        from mysql_data_quality_spark.pipeline import quality_filter as QF

        rows = [
            ("u1", "pre-extracted text stays exactly as is",
             b"<p>ignored html</p>"),
            ("u2", None,
             "<p>The quick brown fox jumps over the lazy dog today.</p>"
             "<script>drop()</script>".encode()),
        ]
        pages = (
            spark.createDataFrame(rows, "url: string, text: string, html: binary")
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
        )
        out = {
            r["url"]: r["text"]
            for r in P.pages_with_extracted_text(pages).collect()
        }
        assert out["u1"] == "pre-extracted text stays exactly as is"
        assert out["u2"] == (
            "The quick brown fox jumps over the lazy dog today."
        )
        dec = QF.decisions(P.pages_with_extracted_text(pages)).collect()
        assert {r["url"] for r in dec} == {"u1", "u2"}

    def test_cli_extract_html(self, spark, tmp_path, monkeypatch, capsys):
        """filter --extract-html: WARC-payload-only rows get extracted
        text and flow through the pipeline."""
        import json

        from mysql_data_quality_spark import cli

        html = ("<p>The quick brown fox jumps over the lazy dog and "
                "keeps writing perfectly normal sentences today.</p>"
                "<script>nav()</script>").encode()
        rows = [("u1", None, html)]
        pages = (
            spark.createDataFrame(rows, "url: string, text: string, html: binary")
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
        )
        monkeypatch.chdir(tmp_path)
        inp = str(tmp_path / "in")
        pages.write.parquet(inp)
        out = str(tmp_path / "out")
        rc = cli.main(["filter", "--input", inp, "--output", out,
                       "--buckets", "2", "--extract-html"])
        assert rc == 0
        got = spark.read.parquet(f"{out}/data").collect()
        assert len(got) == 1 and got[0]["scrubbed_text"].startswith(
            "The quick brown fox"
        )


class TestHashSampling:
    def test_sample_duckdb_exact_rows_and_partition_invariance(
        self, spark, duck
    ):
        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        got = sorted(
            r["doc_id"]
            for r in sampling.hash_sample(docs, "doc_id", 0.3, seed=7)
            .select("doc_id")
            .collect()
        )
        repart = sorted(
            r["doc_id"]
            for r in sampling.hash_sample(
                docs.repartition(13), "doc_id", 0.3, seed=7
            )
            .select("doc_id")
            .collect()
        )
        assert got == repart  # membership independent of partitioning
        oracle = sorted(
            r[0]
            for r in duck.sql(
                "select doc_id from ("
                + sampling.hash_sample_sql("documents", "doc_id", 0.3, seed=7)
                + ")"
            ).fetchall()
        )
        assert got == oracle  # EXACT row set, not just the rate
        n = docs.count()
        assert 0.2 * n < len(got) < 0.4 * n  # rate sanity
        # monotone thresholds: raising the fraction gives a SUPERSET
        more = set(
            r["doc_id"]
            for r in sampling.hash_sample(docs, "doc_id", 0.6, seed=7)
            .select("doc_id")
            .collect()
        )
        assert set(got) <= more
        with pytest.raises(ValueError, match="fraction"):
            sampling.hash_sample(docs, "doc_id", 1.5)


class TestDecontamination:
    def test_ngram_overlap_semantics(self, spark):
        """Exact n-gram containment flags; (n-1)-token overlap doesn't;
        matching is lowercased + whitespace-normalized; short docs safe."""
        from mysql_data_quality_spark.operators import decontaminate as D

        bench = "What is the capital of France Paris obviously"  # 8 tokens
        rows = [
            (1, "intro words then " + bench + " and trailing text"),
            (2, "intro " + " ".join(bench.split()[:7]) + " different tail"),
            (3, "WHAT  IS THE CAPITAL\tOF FRANCE PARIS OBVIOUSLY"),
            (4, "too short"),
            (5, "completely unrelated content about spark shuffles"),
        ]
        corpus = spark.createDataFrame(rows, "doc_id: bigint, text: string")
        eval_df = spark.createDataFrame([(bench,)], "text: string")
        flagged = {
            r["doc_id"]: r["n_eval_grams_hit"]
            for r in D.contaminated_docs(corpus, eval_df, n=8).collect()
        }
        assert set(flagged) == {1, 3}
        assert flagged[1] == 1 and flagged[3] == 1
        kept = sorted(
            r["doc_id"]
            for r in D.decontaminated_corpus(corpus, eval_df, n=8)
            .select("doc_id").collect()
        )
        assert kept == [2, 4, 5]

    def test_duckdb_parity_on_documents(self, spark, duck):
        """Eval set = token slices of real documents — flag list and
        surviving corpus must match DuckDB exactly (n=5 so hits exist)."""
        from mysql_data_quality_spark.operators import decontaminate as D

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        # deterministic eval set: middle 10 tokens of every 41st doc
        eval_rows = [
            (" ".join((r["text"] or "").split()[5:15]),)
            for r in docs.where(F.col("doc_id") % 41 == 0).collect()
        ]
        eval_df = spark.createDataFrame(eval_rows, "text: string")
        got = sorted(
            (r["doc_id"], r["n_eval_grams_hit"])
            for r in D.contaminated_docs(docs, eval_df, n=5).collect()
        )
        duck.register(
            "eval_t", pd.DataFrame(eval_rows, columns=["text"])
        )
        want = sorted(
            (a, b)
            for a, b in duck.sql(
                D.contaminated_docs_sql("documents", "eval_t", n=5)
            ).fetchall()
        )
        assert got == want and len(got) > 0
        kept = sorted(
            r["doc_id"]
            for r in D.decontaminated_corpus(docs, eval_df, n=5)
            .select("doc_id").collect()
        )
        kept_want = sorted(
            r[0]
            for r in duck.sql(
                "select doc_id from ("
                + D.decontaminated_corpus_sql("documents", "eval_t", n=5)
                + ")"
            ).fetchall()
        )
        assert kept == kept_want
        assert len(kept) + len(got) == docs.count()

    def test_corpus_never_shuffles(self, spark):
        """Both the overlap join and the final anti join broadcast the
        small side — corpus text must not ride any Exchange."""
        import re

        from mysql_data_quality_spark.operators import decontaminate as D

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        # local eval frame (a limit() would add its own tiny eval-side
        # SinglePartition exchange and muddy the corpus-text assertion)
        eval_df = spark.createDataFrame(
            [("some benchmark question with several more words here",)],
            "text: string",
        )
        df = D.decontaminated_corpus(docs, eval_df, n=5)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BroadcastHashJoin" in plan
        for b in re.split(r"\n\n", plan):
            if re.match(r"\(\d+\) Exchange", b.strip()):
                assert not re.search(r"\btext#", b), b

    def test_cli_decontaminate(self, spark, tmp_path, monkeypatch, capsys):
        """filter --decontaminate: a corpus doc containing an eval
        n-gram never reaches the decisions table."""
        from mysql_data_quality_spark import cli

        bench = ("what is the answer to this benchmark question about "
                 "rivers and mountains")
        rows = [
            ("u1", "perfectly fine document with normal words that "
                   "pass the rules easily and say nothing leaked."),
            ("u2", "sneaky training doc embedding " + bench + " inside."),
        ]
        pages = (
            spark.createDataFrame(rows, "url: string, text: string")
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
            .withColumn("html", F.lit(None).cast("binary"))
        )
        monkeypatch.chdir(tmp_path)
        inp, ev, out = (str(tmp_path / d) for d in ("in", "eval", "out"))
        pages.write.parquet(inp)
        spark.createDataFrame([(bench,)], "text: string").write.parquet(ev)
        rc = cli.main(["filter", "--input", inp, "--output", out,
                       "--buckets", "2", "--decontaminate", ev,
                       "--decontaminate-ngram", "8"])
        assert rc == 0
        urls = {r["url"] for r in spark.read.parquet(f"{out}/data").collect()}
        assert urls == {"u1"}


class TestFuzzyDecontamination:
    """Minhash-based fuzzy eval-leak detection: paraphrased leaks the
    exact n-gram path misses, verified by signature agreement so band
    noise can't flag clean docs."""

    def _frames(self, spark):
        from pyspark.sql import functions as F  # noqa: F811

        bench = (
            "the quick brown fox jumps over the lazy dog while the "
            "rain falls on the quiet town and the river flows past "
            "the old stone bridge toward the distant sea every day"
        )
        words = bench.split()
        # paraphrase: every 13th word swapped (spacing <= n keeps a
        # change inside every 13-gram window) -> NO 13-gram survives,
        # but shingle Jaccard stays high
        par = list(words)
        for i in range(6, len(par), 13):
            par[i] = "CHANGED"
        paraphrase = " ".join(par)
        rows = [
            (1, "prefix words " + paraphrase + " suffix words"),
            (2, "completely unrelated content about spark shuffles "
                "codegen exchanges partitions and broadcast joins all "
                "day long in the cluster with many stages running"),
        ]
        corpus = spark.createDataFrame(rows, "doc_id: bigint, text: string")
        eval_df = spark.createDataFrame([(bench,)], "text: string")
        return corpus, eval_df

    def test_fuzzy_catches_what_exact_misses(self, spark):
        from mysql_data_quality_spark.operators import decontaminate as D

        corpus, eval_df = self._frames(spark)
        exact = D.contaminated_docs(corpus, eval_df, n=13).collect()
        assert exact == []  # every 13-gram broken by the swaps
        # rows-per-band 2 (32/16) so the LSH S-curve is steep enough to
        # catch j≈0.6 with near-certainty; est_jaccard is DETERMINISTIC
        # (fixed xxhash64 seeds): measured 0.59375 for doc 1
        fuzzy = {
            r["doc_id"]: r["est_jaccard"]
            for r in D.fuzzy_contaminated_docs(
                corpus, eval_df, threshold=0.4, num_hashes=32, bands=16
            ).collect()
        }
        assert set(fuzzy) == {1}
        assert fuzzy[1] == 0.59375
        kept = sorted(
            r["doc_id"]
            for r in D.fuzzy_decontaminated_corpus(
                corpus, eval_df, threshold=0.4, num_hashes=32, bands=16
            ).select("doc_id").collect()
        )
        assert kept == [2]

    def test_threshold_guard_and_clean_corpus(self, spark):
        import pytest

        from mysql_data_quality_spark.operators import decontaminate as D

        corpus, eval_df = self._frames(spark)
        with pytest.raises(ValueError):
            D.fuzzy_contaminated_docs(corpus, eval_df, threshold=0.0)
        # a high threshold the paraphrase can't reach flags nothing
        assert D.fuzzy_contaminated_docs(
            corpus, eval_df, threshold=0.99
        ).collect() == []

    def test_corpus_sigs_not_shuffled(self, spark):
        """The verification join broadcasts the candidate list, so the
        corpus-wide signature frame never rides a shuffle Exchange."""
        import re

        from mysql_data_quality_spark.operators import decontaminate as D

        docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        ev = docs.where(F.col("doc_id") % 97 == 0).select("text")
        df = D.fuzzy_contaminated_docs(docs, ev, threshold=0.8)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        for b in re.split(r"\n\n", plan):
            if re.match(r"\(\d+\) Exchange", b.strip()):
                assert not re.search(r"\bsig#|\btext#", b), b

    def test_cli_fuzzy(self, spark, tmp_path, monkeypatch):
        from mysql_data_quality_spark import cli

        corpus, eval_df = self._frames(spark)
        pages = (
            corpus.select(
                F.concat(F.lit("https://t.org/"),
                         F.col("doc_id").cast("string")).alias("url"),
                "text",
            )
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
            .withColumn("html", F.lit(None).cast("binary"))
        )
        monkeypatch.chdir(tmp_path)
        inp, ev, out = (str(tmp_path / d) for d in ("in", "eval", "out"))
        pages.write.parquet(inp)
        eval_df.write.parquet(ev)
        rc = cli.main(["filter", "--input", inp, "--output", out,
                       "--buckets", "2", "--decontaminate", ev,
                       "--decontaminate-fuzzy", "0.4"])
        assert rc == 0
        urls = {r["url"] for r in spark.read.parquet(f"{out}/data").collect()}
        assert urls == {"https://t.org/2"}

    def test_cli_fuzzy_without_exact_errors(self, tmp_path, capsys):
        """r5 review: --decontaminate-fuzzy without --decontaminate must
        FAIL loudly (exit 2), never silently skip a hygiene stage the
        user asked for."""
        from mysql_data_quality_spark import cli

        rc = cli.main([
            "filter", "--input", str(tmp_path / "in"),
            "--output", str(tmp_path / "out"),
            "--decontaminate-fuzzy", "0.5",
        ])
        assert rc == 2
        assert "--decontaminate" in capsys.readouterr().err


class TestNoindex:
    VECTORS = [
        (1, b'<html><meta name="robots" content="noindex, nofollow">x'),
        (2, b'<meta content="NOINDEX" name="ROBOTS">y'),      # swapped+case
        (3, b"<meta name=robots content=noindex>z"),          # bare attrs
        (4, b'<meta name="robots" content="index, follow">ok'),
        (5, b'<meta name="viewport" content="noindex-like">ok'),
        (6, b"plain page with the word noindex in prose"),
        (7, None),
        (8, b""),
        # r5 review: name must be EXACTLY robots and noindex must be a
        # comma/space-separated token, not a substring of either
        (9, b'<meta name="robotsmeta" content="noindex-demo">'),
        (10, b'<meta name="robots" content="noindexing">'),
        (11, b"<meta content=noindex name=robots>"),
        (12, b'<meta data-name="robots" content="noindex">'),
        (13, b'<meta name="robots" content="nofollow,noindex"/>'),
        (14, b'<meta name="googlebot" content="noindex">'),
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            self.VECTORS, "doc_id: bigint, html: binary"
        )

    def test_vectors_and_duckdb_parity(self, spark):
        import duckdb
        import pandas as pd

        from mysql_data_quality_spark.functions import htmltext as H

        got = {
            r["doc_id"]: r["f"]
            for r in self._df(spark)
            .select("doc_id", H.html_noindex_col(F.col("html")).alias("f"))
            .collect()
        }
        assert got == {1: True, 2: True, 3: True, 4: False,
                       5: False, 6: False, 7: False, 8: False,
                       9: False, 10: False, 11: True, 12: False,
                       13: True, 14: False}
        con = duckdb.connect()
        con.register("v", pd.DataFrame({
            "doc_id": [d for d, _ in self.VECTORS],
            "html": [h for _, h in self.VECTORS],
        }))
        dk = {
            int(d): bool(f)
            for d, f in con.sql(
                f"select doc_id, {H.html_noindex_sql('html')} from v"
            ).fetchall()
        }
        assert dk == got

    def test_semantic_enumeration_both_engines(self, spark):
        """Exhaustive generated sweep of <meta> shapes (attribute order,
        quoting incl. bare, '=' spacing, extra attributes, self-closing):
        the flag must equal `name is exactly robots AND noindex is a
        comma/space-separated directive token` — a dropped page is data
        loss, so the contract is pinned on the full cross product."""
        import re as _re

        import duckdb
        import pandas as pd

        from mysql_data_quality_spark.functions import htmltext as H

        names = ["robots", "ROBOTS", "robotsmeta", "googlebot"]
        contents = ["noindex", "NOINDEX,nofollow", "nofollow,noindex",
                    "index,follow", "noindexing", "demo-noindex", "nofollow"]
        quotes = ['"', "'", ""]  # values above are single-token: bare ok

        def expected(nm, ct):
            toks = [t for t in _re.split(r"[\s,]+", ct.lower()) if t]
            return nm.lower() == "robots" and "noindex" in toks

        vecs = []
        for nm in names:
            for ct in contents:
                for qn in quotes:
                    for qc in quotes:
                        for eq in ("=", " = "):
                            for extra in ("", ' data-x="1"'):
                                for end in (">", "/>"):
                                    a = f"name{eq}{qn}{nm}{qn}"
                                    b = f"content{eq}{qc}{ct}{qc}"
                                    for attrs in (f"{a} {b}", f"{b} {a}"):
                                        vecs.append((
                                            f"<meta {attrs}{extra}{end}",
                                            expected(nm, ct),
                                        ))
        pdf = pd.DataFrame(vecs, columns=["tag", "want"])
        pdf["html"] = pdf["tag"].str.encode("utf-8")
        got = (
            spark.createDataFrame(pdf[["tag", "html"]])
            .select("tag", H.html_noindex_col(F.col("html")).alias("f"))
            .toPandas()
        )
        merged = pdf.merge(got, on="tag")
        bad = merged[merged["want"] != merged["f"]]
        assert bad.empty, bad.head(10).to_dict("records")
        con = duckdb.connect()
        con.register("nv", pdf[["tag", "html", "want"]])
        n_bad = con.sql(
            f"select count(*) from nv where "
            f"{H.html_noindex_sql('html')} <> want"
        ).fetchone()[0]
        assert n_bad == 0

    def test_cli_drop_noindex(self, spark, tmp_path, monkeypatch):
        from mysql_data_quality_spark import cli

        body = ("a perfectly fine document with normal words that pass "
                "the rules easily and say nothing at all.")
        rows = [
            ("u1", body, None),
            ("u2", body + " two",
             b'<html><meta name="robots" content="noindex">'),
        ]
        pages = (
            spark.createDataFrame(rows, "url: string, text: string, html: binary")
            .withColumn("lang", F.lit("en"))
            .withColumn("warc_ts", F.current_timestamp())
            .select("url", "warc_ts", "html", "text", "lang")
        )
        monkeypatch.chdir(tmp_path)
        inp, out = str(tmp_path / "in"), str(tmp_path / "out")
        pages.write.parquet(inp)
        rc = cli.main(["filter", "--input", inp, "--output", out,
                       "--buckets", "2", "--drop-noindex"])
        assert rc == 0
        urls = {r["url"] for r in spark.read.parquet(f"{out}/data").collect()}
        assert urls == {"u1"}
