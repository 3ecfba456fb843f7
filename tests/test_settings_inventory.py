"""The package's settable values: the ``SPARK_GRAFT_*`` environment
variables it reads. The set is pinned, so adding or removing one is a
deliberate edit of this test."""

from __future__ import annotations

import pathlib
import re

import data_collection_ieee_spark

PACKAGE = pathlib.Path(data_collection_ieee_spark.__file__).parent

EXPECTED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS"}


def test_package_reads_exactly_the_pinned_settings():
    found = set()
    for path in PACKAGE.rglob("*.py"):
        found.update(re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text()))
    assert found == EXPECTED
