import hashlib
import os

import pyarrow.parquet as pq

from olr_cdc_oracle_no_dbz_spark.schemas import TESTDATA_TABLES
from perfbench import tables


def _digests(d):
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_tables_are_seeded_and_complete(tmp_path):
    counts = tables.generate(str(tmp_path / "a"), 9, 0.001)
    tables.generate(str(tmp_path / "b"), 9, 0.001)
    tables.generate(str(tmp_path / "c"), 10, 0.001)
    assert set(counts) == set(TESTDATA_TABLES)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    li = pq.read_table(tmp_path / "a" / "lineitem.parquet")
    assert li.num_rows == counts["lineitem"] > counts["orders"]
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
