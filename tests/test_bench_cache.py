"""The bench's re-laid fixture cache must notice a replaced source file."""

import os

import pyarrow as pa
import pyarrow.parquet as pq


def test_relaid_table_cache_keys_on_source_file(spark, tmp_path, monkeypatch):
    import bench

    sf = tmp_path / "sf_x"
    sf.mkdir()
    src = sf / "t.parquet"
    pq.write_table(pa.table({"v": [1, 2, 3]}), src)
    monkeypatch.setattr(bench, "SF_DIR", str(sf))
    monkeypatch.setattr(bench, "WORK", str(tmp_path / "work"))
    assert bench._sf_table(spark, "t", 2).count() == 3

    pq.write_table(pa.table({"v": [1, 2, 3, 4, 5]}), src)
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert bench._sf_table(spark, "t", 2).count() == 5
