"""Persisted /tmp artifacts: a fresh artifact path prunes every other
version of the same artifact family for the same source dir."""

import os
import shutil
import uuid


def test_version_bump_prunes_older_versions(tmp_path):
    import __spark_entry__ as entry

    sf = tmp_path / f"sf_{uuid.uuid4().hex[:8]}"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"x")
    base = sf.name
    planted = {
        "old_version": f"/tmp/spark_graft_pptest_v1_{base}_1_2",
        "unversioned": f"/tmp/spark_graft_pptest_{base}_1_2",
        "other_sf_dir": f"/tmp/spark_graft_pptest_v1_{base}x_1_2",
        "other_family": f"/tmp/spark_graft_pptestx_v1_{base}_1_2",
    }
    try:
        for d in planted.values():
            os.makedirs(d)
        path = entry._persist_path("spark_graft_pptest_v2", str(sf), "events")
        assert path.startswith(f"/tmp/spark_graft_pptest_v2_{base}_")
        left = {k for k, d in planted.items() if os.path.exists(d)}
        assert left == {"other_sf_dir", "other_family"}
    finally:
        for d in planted.values():
            shutil.rmtree(d, ignore_errors=True)
