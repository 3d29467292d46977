"""The engine core loads no module from outside the crawler core.

The segment pass, the query server and the recrawl path import the
ten modules below. None of them may pull in a media decoder or a
module of the LLM-data, vector-search or session tiers: those live
outside the crawler core, and deleting them must never change what
the core runs. Checked in a fresh interpreter, so modules other
tests already imported cannot hide or fake a load.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

CORE = [
    "functions.html",
    "operators.crawldb",
    "operators.crawllist",
    "operators.dedup",
    "operators.webgraph",
    "operators.graph",
    "plans.pipeline",
    "plans.query_api",
    "sources.archive",
    "streaming.jobs",
]

OUTSIDE_CORE = [
    "operators.multimodal",
    "sources.packfiles",
    "operators.bpe",
    "operators.tokenizers",
    "operators.sampling",
    "operators.corpus",
    "operators.similarity",
    "operators.sessions",
]

_PROBE = """
import importlib, json, sys
for name in sys.argv[1:]:
    importlib.import_module("commoncrawl_crawler_spark." + name)
from pyspark import SparkContext
print(json.dumps({
    "modules": sorted(sys.modules),
    "spark": SparkContext._active_spark_context is not None,
}))
"""


def test_engine_core_imports_no_media_module():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *CORE],
        cwd=REPO, capture_output=True, text=True, timeout=120, check=True,
    )
    probe = json.loads(out.stdout.strip().splitlines()[-1])
    loaded = set(probe["modules"])
    for name in CORE:
        assert f"commoncrawl_crawler_spark.{name}" in loaded
    leaked = [
        m for m in OUTSIDE_CORE if f"commoncrawl_crawler_spark.{m}" in loaded
    ]
    assert not leaked, f"engine core imports non-core modules: {leaked}"
    assert not probe["spark"], "importing the engine core started Spark"
