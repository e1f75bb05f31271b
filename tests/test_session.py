"""``get_spark`` sizes shuffle partitions to a local master's cores."""

from __future__ import annotations

import os

from text2nkg_spark.session import local_cores


def test_local_cores_reads_every_local_master_form():
    host = os.cpu_count()
    assert local_cores("local") == 1
    assert local_cores("local[4]") == 4
    assert local_cores("local[*]") == host
    assert local_cores("local[4,2]") == 4
    assert local_cores("local[*,3]") == host


def test_other_masters_have_no_local_cores():
    for master in ("yarn", "spark://h:7077", "k8s://https://h:443",
                   "local-cluster[2,1,1024]"):
        assert local_cores(master) is None
