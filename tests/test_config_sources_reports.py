"""Round-2 surfaces: JDBC source (real Derby round-trip), env/.env config
layer, FK auto-rule generation from metadata, unified report manager."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql_data_quality_spark.core.config import (
    AppConfig,
    DuplicatesConfig,
    load_config,
    load_dotenv,
    rules_from_env,
)
from mysql_data_quality_spark.pipeline import pages as P
from mysql_data_quality_spark.pipeline import quality_filter as QF
from mysql_data_quality_spark.sources import registry
from mysql_data_quality_spark.validators import integrity
from tests.conftest import SF_SMOKE

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


class TestJdbcSource:
    """Derby ships in Spark's jars, so the JDBC path is tested against a
    real embedded SQL database, not just dispatch."""

    @pytest.fixture(scope="class")
    def derby_url(self, spark, tmp_path_factory):
        db = tmp_path_factory.mktemp("derby") / "qdb"
        url = f"jdbc:derby:{db};create=true"
        src = spark.createDataFrame(
            [(i, f"name_{i % 7}") for i in range(100)], "id: int, name: string"
        )
        (
            src.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "people")
            .option("driver", DERBY_DRIVER)
            .mode("overwrite")
            .save()
        )
        return url

    def test_jdbc_roundtrip_via_factory(self, spark, derby_url):
        """The reference's connector factory collapses to read_jdbc: a
        url + table read round-trips the rows Spark wrote."""
        df = registry.read_jdbc(spark, derby_url, "people")
        assert df.count() == 100
        assert {f.name.lower() for f in df.schema.fields} == {"id", "name"}

    def test_jdbc_partitioned_read(self, spark, derby_url):
        """Range-partitioned read: the scan splits into per-executor range
        queries — the shape that matters against a big SQL table."""
        df = registry.read_jdbc(
            spark,
            derby_url,
            "people",
            driver=DERBY_DRIVER,
            partition_column="id",
            num_partitions=4,
            lower_bound=0,
            upper_bound=100,
        )
        assert df.rdd.getNumPartitions() == 4
        assert df.count() == 100
        agg = df.groupBy("name").count().orderBy("name").collect()
        assert sum(r["count"] for r in agg) == 100

class TestLiveFkDiscovery:
    def test_discover_validate_against_real_database(
        self, spark, tmp_path_factory
    ):
        """Full reference parity for auto-FK: a REAL database with a REAL
        foreign-key constraint -> JDBC metadata discovery -> generated
        rules -> broadcast anti-join validation over JDBC-read tables.
        (Orphans exist because Derby FKs are checked on insert, so the
        'orphan' rows live in a constraint-free staging table.)"""
        db = tmp_path_factory.mktemp("derbyfk") / "fkdb"
        url = f"jdbc:derby:{db};create=true"
        jvm = spark._jvm
        jvm.java.lang.Class.forName(DERBY_DRIVER)
        conn = jvm.java.sql.DriverManager.getConnection(url)
        st = conn.createStatement()
        st.execute("create table dept (dept_id int primary key, name varchar(20))")
        st.execute(
            "create table emp (emp_id int primary key, dept_id int, "
            "constraint emp_dept_fk foreign key (dept_id) references dept(dept_id))"
        )
        st.execute("create table emp_staging (emp_id int, dept_id int)")
        for i in range(3):
            st.execute(f"insert into dept values ({i}, 'd{i}')")
        for i in range(10):
            st.execute(f"insert into emp values ({i}, {i % 3})")
        for i in range(10):  # 2 orphans: dept 7 and 9 don't exist
            st.execute(f"insert into emp_staging values ({i}, {i % 5 * 2 - 1})")
        st.close()
        conn.close()

        rules = integrity.discover_fk_rules_jdbc(
            spark, url, "EMP", driver=DERBY_DRIVER
        )
        assert [r.name for r in rules] == ["auto_fk_EMP_DEPT_FK"]
        p = rules[0].parameters
        assert (p["foreign_key"], p["reference_table"], p["reference_column"]) == (
            "DEPT_ID", "DEPT", "DEPT_ID"
        )

        dept = registry.read_jdbc(spark, url, "dept", driver=DERBY_DRIVER)
        emp = registry.read_jdbc(spark, url, "emp", driver=DERBY_DRIVER)
        staging = registry.read_jdbc(
            spark, url, "emp_staging", driver=DERBY_DRIVER
        )
        v = integrity.IntegrityValidator({"DEPT": dept})
        ok = v.validate_table(emp, "EMP", rules=rules)[0]
        assert ok.passed and ok.details["orphaned_records"] == 0
        bad = v.validate_table(staging, "EMP_STAGING", rules=rules)[0]
        # staging dept_ids are {-1,1,3,5,7} x2; {1,3,5}? no - depts are 0..2
        assert not bad.passed
        expected = staging.join(
            dept.select(F.col("DEPT_ID")), on="DEPT_ID", how="left_anti"
        ).count()
        assert bad.details["orphaned_records"] == expected > 0


class TestEnvConfig:
    def test_dotenv_parse_and_precedence(self, tmp_path, monkeypatch):
        envf = tmp_path / ".env"
        envf.write_text(
            "# comment\nLOG_LEVEL=debug\nFORCE_UNIQUE_COLUMNS='email, sku'\n"
            "SKIP_DUPLICATE_PATTERNS=_id,_ref\n\nBROKEN LINE\n"
        )
        monkeypatch.setenv("LOG_LEVEL", "ERROR")  # process env wins
        monkeypatch.delenv("FORCE_UNIQUE_COLUMNS", raising=False)
        monkeypatch.delenv("SKIP_DUPLICATE_PATTERNS", raising=False)
        load_dotenv(envf)
        assert AppConfig.from_env().log_level == "ERROR"
        dup = DuplicatesConfig.from_env()
        assert dup.force_columns == ("email", "sku")
        assert dup.skip_patterns == ("_id", "_ref")

    def test_duplicates_config_drives_validator(self):
        cfg = DuplicatesConfig(
            skip_patterns=("_id",),
            force_patterns=("email",),
            force_columns=("order_id",),
            allow_columns=("email_backup",),
        )
        v = cfg.make_validator()
        assert not v.should_skip_column("order_id")  # exact force wins
        assert v.should_skip_column("email_backup")  # exact allow wins
        assert not v.should_skip_column("email_addr")  # pattern force
        assert v.should_skip_column("user_id")  # pattern skip

    def test_rules_from_env_overrides(self):
        rules = rules_from_env(
            env={
                "DQS_RULE_MIN_WORDS": "50",
                "DQS_RULE_MEAN_WORD_LENGTH": "1.5:12",
                "DQS_RULE_REPETITION_ENABLED": "false",
                "UNRELATED": "x",
            }
        )
        by = {r.name: r for r in rules}
        assert by["min_words"].value == 50 and isinstance(
            by["min_words"].value, int
        )
        assert by["mean_word_length"].value == (1.5, 12.0)
        assert not by["repetition"].enabled
        assert by["symbol_ratio"].value == 0.1  # untouched default

    def test_rules_from_env_rejects_typo(self):
        with pytest.raises(ValueError, match="unknown rule override"):
            rules_from_env(env={"DQS_RULE_MIN_WRODS": "5"})

    def test_pipeline_driven_purely_from_env(self, spark):
        """End-to-end: env dict -> rule registry -> different decisions,
        with the generated oracle SQL staying in sync."""
        pages = P.read_pages(spark, SF_SMOKE)
        rules = rules_from_env(
            env={
                "DQS_RULE_MIN_WORDS": "50",
                "DQS_RULE_LANG_UNDETECTED_ENABLED": "false",
            }
        )
        default = QF.decisions(pages).orderBy("url").toPandas()
        custom = QF.decisions(pages, rules=rules).orderBy("url").toPandas()
        assert (custom["keep"] != default["keep"]).any()
        assert any("min_words" in r for r in custom["drop_reason"])
        assert "lang_undetected" not in ",".join(custom["drop_reason"])

    def test_load_config_shape(self, tmp_path, monkeypatch):
        monkeypatch.chdir(tmp_path)  # no .env present
        cfg = load_config()
        assert cfg.app.log_level == "ERROR" or cfg.app.log_level in (
            "DEBUG", "INFO", "WARNING", "CRITICAL",
        )
        assert len(cfg.rules) >= 10


class TestFkRulesFromMetadata:
    def test_generated_rules_match_manual_fk_check(self, spark):
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        specs = [
            {
                "column_name": "o_custkey",
                "referenced_table_name": "customer",
                "referenced_column_name": "c_custkey",
                "constraint_name": "orders_ibfk_1",
            }
        ]
        rules = integrity.rules_from_metadata(specs)
        assert [r.name for r in rules] == ["auto_fk_orders_ibfk_1"]
        v = integrity.IntegrityValidator({"customer": customer})
        res = v.validate_table(orders, "orders", rules=rules)[0]
        expected = (
            orders.join(
                F.broadcast(
                    customer.select(
                        F.col("c_custkey").alias("o_custkey")
                    ).distinct()
                ),
                on="o_custkey",
                how="left_anti",
            ).count()
        )
        assert res.details["orphaned_records"] == expected
        assert res.rule_name == "auto_fk_orders_ibfk_1"
        assert res.passed == (expected == 0)


class TestUnifiedReport:
    def test_one_basename_all_formats(self, spark, tmp_path):
        from mysql_data_quality_spark.reports import write_unified_report

        res = QF.metrics(QF.annotate(P.read_pages(spark, SF_SMOKE)))
        out = write_unified_report(res, "pages", tmp_path)
        assert set(out) == {"json", "txt", "html"}
        stems = {p.stem for p in out.values()}
        assert len(stems) == 1  # shared basename
        assert all(p.exists() and p.stat().st_size > 0 for p in out.values())
        named = write_unified_report(
            res, "pages", tmp_path, report_name="run42", formats=["json", "txt"]
        )
        assert {p.name for p in named.values()} == {"run42.json", "run42.txt"}
        with pytest.raises(ValueError):
            write_unified_report(res, "pages", tmp_path, formats=["pdf"])


class TestDefaultEngineConfig:
    def test_default_engine_respects_env_lists(self, spark, monkeypatch):
        """The orchestrator's default engine binds the duplicates validator
        from the environment (reference config.py env flow)."""
        from mysql_data_quality_spark.core.orchestrator import default_engine

        monkeypatch.setenv("FORCE_UNIQUE_COLUMNS", "o_comment")
        monkeypatch.setenv("ALLOW_DUPLICATE_COLUMNS", "o_totalprice")
        eng = default_engine()
        dup = eng.get_validator("duplicates")
        assert not dup.should_skip_column("o_comment")
        assert dup.should_skip_column("o_totalprice")
