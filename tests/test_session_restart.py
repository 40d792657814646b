"""Session state survives a SparkContext restart: after ``spark.stop()``
and a fresh ``get_spark()``, cached queries give the same rows, and the
session cache holds only entries of the new application.

Runs in a subprocess so the suite's shared session is untouched, from a
foreign cwd so UDF workers can import the engine only if it is shipped
to the new context."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# als_rmse: the ALS split and model; dedup_components: the dedup edge set;
# ann_two_level_search: the nearcell UDFs, which ship the package
QUERIES = ("als_rmse", "dedup_components", "ann_two_level_search")

SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from cqu_bigdata_recommender_system_for_movies_spark import session
    from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import all_queries

    queries = all_queries()

    def run():
        spark = session.get_spark("restart-test")
        rows = {{
            name: sorted(repr(tuple(r)) for r in queries[name](spark, {sf!r}).collect())
            for name in {names!r}
        }}
        return spark, spark.sparkContext.applicationId, rows

    spark, app_before, before = run()
    spark.stop()
    spark, app_after, after = run()
    keys = [list(k) for k in session._SESSION_CACHE]
    spark.stop()
    print(json.dumps(dict(app_before=app_before, app_after=app_after,
                          before=before, after=after, keys=keys)))
    """
)


def test_session_cache_survives_context_restart(tmp_path, sf_dir):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, sf=sf_dir, names=QUERIES)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["app_after"] != res["app_before"]
    for name in QUERIES:
        assert res["before"][name], name
        assert res["after"][name] == res["before"][name], name
    assert res["keys"], "nothing was cached"
    assert {k[0] for k in res["keys"]} == {res["app_after"]}
