"""North-rule deployment smoke: ``spark-submit --py-files dist.zip``.

The rule ships the engine to a multi-executor cluster as a zip
(BASELINE.json north_rule: "run via spark-submit --py-files"). These
tests prove the artifact scripts/package.py builds is actually
deployable: the package — INCLUDING its data files — imports from the
zip alone (zipimport, no source checkout on sys.path), the full ICANN
PSL snapshot resolves through importlib.resources on both the driver
and the executor python workers, and a real pre-extract crawl runs
end-to-end under a genuine ``spark-submit`` child process.

Regression anchor: before round 5 the zip shipped only ``.py`` files
and the PSL loader used a ``__file__``-relative open(); a --py-files
deploy would have silently degraded every executor's public-suffix
resolution to the embedded fallback subset (com.ng-class domains
mis-split) with no error anywhere.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
import package as pkg  # scripts/package.py


@pytest.fixture(scope="module")
def zip_path(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dist") / "breakchecker_spark.zip")
    return pkg.build(out)


def test_zip_ships_package_data(zip_path):
    names = zipfile.ZipFile(zip_path).namelist()
    assert "breakchecker_spark/data/public_suffix_list_icann.dat" in names


def test_psl_resolves_from_zip_import(zip_path):
    """Isolated interpreter, sys.path = [zip] only: the full PSL must
    load (>5000 ICANN rules) and resolve a com.ng-class registrable
    domain — the case the embedded fallback subset gets wrong."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {zip_path!r})
        from breakchecker_spark.functions import contacts
        assert len(contacts._EXACT_SUFFIXES) > 5000, len(contacts._EXACT_SUFFIXES)
        assert contacts.registered_domain("foo.bar.com.ng") == "bar.com.ng"
        assert contacts.registered_domain("www.city.kobe.jp") == "city.kobe.jp"
        print("ZIP_PSL_OK", len(contacts._EXACT_SUFFIXES))
        """
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", script],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "ZIP_PSL_OK" in out.stdout


DRIVER = """
import sys
from pyspark.sql import SparkSession

spark = SparkSession.builder.getOrCreate()

# driver-side: package imports from the --py-files zip (no checkout)
from breakchecker_spark.functions import contacts
assert len(contacts._EXACT_SUFFIXES) > 5000, len(contacts._EXACT_SUFFIXES)
print("DRIVER_PSL_OK", len(contacts._EXACT_SUFFIXES))

# executor-side: a python worker must ALSO see the full PSL through
# the zip (workers import independently of the driver process)
import pandas as pd

def _probe(batches):
    from breakchecker_spark.functions import contacts as c
    for pdf in batches:
        yield pd.DataFrame({"n": [len(c._EXACT_SUFFIXES)] * len(pdf)})

n = spark.range(0, 1, numPartitions=1).mapInPandas(_probe, "n long").collect()[0][0]
assert n > 5000, n
print("EXECUTOR_PSL_OK", n)

# end-to-end: a small pre-extract crawl over generated pages exercises
# the pandas-UDF extraction path (executor imports of htmlx/urlnorm/
# contacts from the zip) through the production loop
from breakchecker_spark.plans.crawl import CrawlConfig, run_crawl
from breakchecker_spark.sources import pagegen

pages = pagegen.generate_pages(spark, 60, partitions=4)
cfg = CrawlConfig(scope_host=pagegen.ORG, max_depth=4, pre_extract=True,
                  bloom_parts=4, bloom_expected_per_part=1000)
res = run_crawl(spark, pagegen.seeds_df(spark), pages, cfg)
assert res.summary["num_endpoints"] > 0
print("CRAWL_OK", res.summary["num_endpoints"], res.contacts.count())
spark.stop()
"""


def _spark_submit_bin() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def test_spark_submit_py_files_end_to_end(zip_path, tmp_path):
    """Real ``spark-submit --py-files zip driver.py`` from a neutral
    cwd with no repo on PYTHONPATH — the exact deployment shape the
    north rule names."""
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("JAVA_HOME", os.environ.get("JAVA_HOME", ""))
    out = subprocess.run(
        [
            _spark_submit_bin(),
            "--master",
            "local[2]",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--conf",
            "spark.ui.enabled=false",
            "--py-files",
            zip_path,
            str(driver),
        ],
        capture_output=True,
        text=True,
        timeout=540,
        cwd=str(tmp_path),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "DRIVER_PSL_OK" in out.stdout
    assert "EXECUTOR_PSL_OK" in out.stdout
    assert "CRAWL_OK" in out.stdout
