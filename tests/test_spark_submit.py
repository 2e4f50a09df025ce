"""Cluster deployment path: spark-submit --py-files integration (north_rule)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"
SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_pyfiles(spark, tmp_path):
    from entity_resolution_spark.session import DEFAULT_CONFS
    from entity_resolution_spark.sources.synthetic import make_pages

    pages_dir = tmp_path / "pages"
    corpus = make_pages(n_entities=20)
    spark.createDataFrame(corpus.pages).write.parquet(str(pages_dir))

    # the engine's session defaults apply under spark-submit, and a --conf
    # the user passes wins over them
    override = ("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
    assert DEFAULT_CONFS[override[0]] != override[1]
    zip_path = str(tmp_path / "pkg.zip")
    subprocess.run(
        [sys.executable, os.path.join(SCRIPTS, "build_pyfiles_zip.py"), zip_path],
        check=True,
        capture_output=True,
    )
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", f"{override[0]}={override[1]}",
            "--py-files", zip_path,
            os.path.join(SCRIPTS, "submit_pipeline.py"),
            str(pages_dir),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("SUBMIT_RESULT")][0]
    summary = json.loads(line.split(" ", 1)[1])
    assert summary["rows"] == len(corpus.pages)
    assert summary["entities"] == 20  # exactly the planted entity count
    want = {k: v for k, v in DEFAULT_CONFS.items() if k != "spark.driver.memory"}
    want[override[0]] = override[1]
    assert summary["confs"] == want
