from __future__ import annotations

import os
import sys
import warnings

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_pulsar_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slowprofile: heavyweight parity/property/restart tests skipped "
        "in the default fast profile — every operator keeps at least "
        "one default-profile test; set SPARK_GRAFT_FULL_TESTS=1 to run "
        "the full suite (VERDICT r13 #2: the 1h23m suite outran the "
        "driver's verification window at 58%)")


_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__),
                              "slow_tests.json")
_FAST_PROFILE_SKIPPED = pytest.StashKey[set]()


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    """Default-fast profile (VERDICT r13 #2a): the full suite is
    ~1h22m and the driver's verification window killed it at 58%, so
    `pytest tests/` now skips the measured-slow tests listed in
    tests/slow_tests.json (~119 tests; every module AND every test
    class keeps at least its fastest member, so no operator loses
    default coverage) — ~30 min instead of ~82. The full suite runs
    with SPARK_GRAFT_FULL_TESTS=1 and remains the pre-commit bar for
    operator-internals changes. Regenerate the manifest after adding
    slow tests: tools/gen_slow_manifest.py over a
    `pytest tests/ -q --durations=0` log.

    A manifest id that names no collected test (the test was renamed
    or deleted) warns in the fast profile and is a usage error under
    SPARK_GRAFT_FULL_TESTS=1, so the fast profile cannot drift silently
    away from the full suite. Runs first, before -k/-m deselection."""
    import json

    slow = set()
    if os.path.exists(_SLOW_MANIFEST):
        with open(_SLOW_MANIFEST) as f:
            slow = set(json.load(f))
    full = bool(os.environ.get("SPARK_GRAFT_FULL_TESTS"))
    stale = _stale_manifest_ids(config, items, slow)
    if stale:
        msg = (f"{len(stale)} tests/slow_tests.json id(s) match no "
               f"collected test: {', '.join(stale)}")
        if full:
            raise pytest.UsageError(msg)
        warnings.warn(pytest.PytestWarning(msg))
    if full:
        return
    skip = pytest.mark.skip(
        reason="slow profile (SPARK_GRAFT_FULL_TESTS=1 to include)")
    config.stash[_FAST_PROFILE_SKIPPED] = skipped = set()
    for item in items:
        if item.get_closest_marker("slowprofile") or item.nodeid in slow:
            item.add_marker(skip)
            skipped.add(item.nodeid)


def _stale_manifest_ids(config, items, slow):
    """Manifest ids naming no collected test. A module that does not
    exist makes its ids stale; ids in a module collected only in part
    (a ``file::test`` argument, ``--lf``) or not at all are not judged."""
    if config.getoption("lf", False):
        return []
    here = str(config.invocation_params.dir)
    narrowed = {os.path.abspath(os.path.join(here, a.split("::")[0]))
                for a in config.args if "::" in a}
    collected_modules = {str(item.path) for item in items} - narrowed
    nodeids = {item.nodeid for item in items}
    stale = []
    for nodeid in sorted(slow):
        module = os.path.join(str(config.rootpath), nodeid.split("::")[0])
        if not os.path.exists(module) or (
                module in collected_modules and nodeid not in nodeids):
            stale.append(nodeid)
    return stale


def pytest_report_collectionfinish(config, items):
    skipped = config.stash.get(_FAST_PROFILE_SKIPPED, None)
    if skipped is not None:
        n = sum(item.nodeid in skipped for item in items)
        return (f"fast profile: skipping {n} slow test(s) "
                f"(SPARK_GRAFT_FULL_TESTS=1 to include)")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
