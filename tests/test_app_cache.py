"""Memoised Column trees across a SparkContext restart.

``session.app_memo`` keys each memo on the active SparkContext's
``applicationId``. A Column holds a py4j handle into the JVM that built
it, so a tree memoised for one context and served to a context on a
fresh gateway fails with an NPE inside ``select``. The restart runs in a
child process: it stops its session and shuts the gateway down, which
the shared test session must not do.
"""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = textwrap.dedent(
    """
    import sys

    from pyspark import SparkContext
    from pyspark.sql import functions as F
    from ethereum_analytical_db_spark.session import get_spark
    from ethereum_analytical_db_spark.operators import dedup, lm, text
    from ethereum_analytical_db_spark.plans import registry

    seen = []
    for _ in range(2):
        spark = get_spark(app_name="app-cache-restart", cpus=1, shuffle_partitions=1)
        docs = spark.createDataFrame(
            [(1, "the value of der und")], "doc_id long, text string"
        )
        trees = [
            dedup._ngrams_ws_expr(2),
            text._predicted_lang_named("text"),
            lm._nulled_tokens_expr("text"),
            lm._pair_structs_expr(),
            registry.table(spark, sys.argv[1], "documents"),
        ]
        # memoised within one context
        assert dedup._ngrams_ws_expr(2) is trees[0]
        assert text._predicted_lang_named("text") is trees[1]
        assert lm._nulled_tokens_expr("text") is trees[2]
        assert lm._pair_structs_expr() is trees[3]
        assert registry.table(spark, sys.argv[1], "documents") is trees[4]
        assert not any(t is s for t in trees for s in seen)
        seen += trees
        shingles = dedup._shingled(docs, "text", "doc_id", 2).collect()
        assert sorted(shingles[0]["ngrams"]) == [
            "der und", "of der", "the value", "value of"
        ]
        assert docs.select(text.predicted_lang("text")).first()[0] == "en"
        assert docs.select(trees[2]).count() == 5
        pairs = docs.select(F.split("text", " ").alias("ws")).select(trees[3]).collect()
        assert [p[0]["prev"] for p in pairs][:2] == [None, "the"]
        assert trees[4].collect() == [(1, "the value of der und")]
        spark.stop()
        # a fresh gateway and JVM for the next session
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    print("OK")
    """
)


def test_memoised_trees_survive_session_restart(tmp_path):
    import pandas as pd

    pd.DataFrame({"doc_id": [1], "text": ["the value of der und"]}).to_parquet(
        tmp_path / "documents.parquet"
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, str(tmp_path)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("OK"), (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )



COMPAT_RESTART = textwrap.dedent(
    """
    import sys

    from pyspark import SparkContext
    from ethereum_analytical_db_spark import session
    from ethereum_analytical_db_spark.plans.registry import all_queries
    from ethereum_analytical_db_spark.session import get_spark

    q = all_queries()["compat_balances_pyramid"]
    for _ in range(2):
        spark = get_spark(app_name="compat-cache-restart", cpus=1, shuffle_partitions=1)
        q.build(spark, sys.argv[1])
        assert list(session._APP_MEMO) == [
            spark.sparkContext.applicationId
        ], list(session._APP_MEMO)
        spark.stop()
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    print("OK")
    """
)


def test_compat_cache_drops_stopped_applications(tmp_path):
    """The ClickHouse-dialect view cache holds only the live
    application: a stopped session's SparkSession and ClickHouseCompat
    are evicted by the next application's first build instead of
    staying pinned for the life of the process."""
    import pandas as pd

    pd.DataFrame(
        {
            "event_id": range(12),
            "ts": pd.date_range("2024-01-01", periods=12, freq="h"),
            "user_id": [i % 5 for i in range(12)],
            "event_type": ["purchase", "view", "error"] * 4,
            "value": [float(i) for i in range(12)],
        }
    ).to_parquet(tmp_path / "events.parquet")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g", PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", COMPAT_RESTART, str(tmp_path)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0 and proc.stdout.strip().endswith("OK"), (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )


def test_app_memo_is_the_only_per_context_cache():
    """Structure pin: ``session.app_memo`` is the package's one
    per-SparkContext cache. Outside ``session.py`` no module reads
    ``applicationId``, imports ``lru_cache`` or keeps a module-level
    ``*_CACHE`` or ``*_MEMO`` dict of its own."""
    import ast
    from pathlib import Path

    pkg = Path(REPO) / "ethereum_analytical_db_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "session.py":
            continue
        tree = ast.parse(path.read_text())
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and n.attr in ("applicationId", "lru_cache"):
                found.append((rel, n.attr))
            if isinstance(n, ast.ImportFrom) and "lru_cache" in {a.name for a in n.names}:
                found.append((rel, "lru_cache"))
        for n in tree.body:
            targets = n.targets if isinstance(n, ast.Assign) else [getattr(n, "target", None)]
            found += [
                (rel, t.id)
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith(("_CACHE", "_MEMO"))
            ]
    assert found == [], found
