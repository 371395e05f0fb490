from __future__ import annotations

import pytest

from retail_aws_etl_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark


SALES_HEADER = "transaction_id,store_id,timestamp,item_id,quantity,unit_price,revenue"


def write_sales_csv(path, ids, n_bad=0, quantity=2):
    """A raw sales CSV: one valid row per id in ``ids`` over three dates
    (revenue == quantity × unit_price), then ``n_bad`` business rejects
    (revenue != quantity × unit_price)."""
    with open(path, "w") as f:
        f.write(SALES_HEADER + "\n")
        for i in ids:
            f.write(
                f"T{i:04d},S{i % 3},2025-07-{10 + i % 3:02d} 10:0{i % 6}:00,ITEM{i},"
                f"{quantity},5.00,{quantity * 5:.2f}\n"
            )
        for i in range(n_bad):
            f.write(f"TBAD{i:02d},S0,2025-07-10 10:00:00,ITEMX{i},2,5.00,99.99\n")
