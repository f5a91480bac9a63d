import pyarrow.parquet as pq

import gen


def test_same_seed_same_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_base(str(a), 3, 0.1)
    gen.write_base(str(b), 3, 0.1)
    gen.write_base(str(c), 4, 0.1)
    for t in ("lineitem", "orders", "events", "embeddings", "documents"):
        ta = pq.read_table(a / f"{t}.parquet")
        assert ta.equals(pq.read_table(b / f"{t}.parquet")), t
    assert not pq.read_table(a / "lineitem.parquet").equals(pq.read_table(c / "lineitem.parquet"))
    # the near-dedup corpus is fixed: its slots are checked by digest
    assert pq.read_table(a / "documents.parquet").equals(pq.read_table(c / "documents.parquet"))


def test_scan_lineitem_replicates_with_shifted_keys(tmp_path):
    base, scan = tmp_path / "base", tmp_path / "scan"
    gen.write_base(str(base), 5, 0.1)
    n = gen.write_scan_lineitem(str(base), str(scan), 5)
    li = pq.read_table(base / "lineitem.parquet")
    big = pq.read_table(scan / "lineitem.parquet")
    assert n == big.num_rows == gen.SCAN_REPLICAS * li.num_rows
    assert big.schema.equals(li.schema)
    # same values, distinct keys per replica
    assert abs(sum(big["l_extendedprice"].to_pylist()) - gen.SCAN_REPLICAS * sum(li["l_extendedprice"].to_pylist())) < 1e-3
    keys = set(zip(big["l_orderkey"].to_pylist(), big["l_linenumber"].to_pylist(), big["l_partkey"].to_pylist()))
    assert len(keys) > li.num_rows
