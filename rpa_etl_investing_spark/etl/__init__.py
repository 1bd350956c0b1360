"""ETL pipeline — the reference's end-to-end capability, set-based.

Reference flow (``/root/reference/main.py:159-173``): scrape → locale
normalize → sector classify → star-schema load (dim upsert + FK
resolution + fact append) → flagship query. Here every row loop
becomes a DataFrame transform; the per-row commit anti-pattern
(``main.py:147``) becomes one batch write.
"""

from rpa_etl_investing_spark.etl.pipeline import (
    DIM_SCHEMA,
    FACT_SCHEMA,
    RAW_SCRAPE_SCHEMA,
    flagship_top10,
    load_star_schema,
    resolve_fact_keys,
    transform_raw,
    upsert_dimension,
)
from rpa_etl_investing_spark.etl.sector_maps import (
    DEFAULT_SECTOR_BRAZIL,
    DEFAULT_SECTOR_OTHER,
    SECTOR_BY_BRAZIL_INDEX,
    SECTOR_BY_COUNTRY,
)

__all__ = [
    "RAW_SCRAPE_SCHEMA",
    "DIM_SCHEMA",
    "FACT_SCHEMA",
    "transform_raw",
    "upsert_dimension",
    "resolve_fact_keys",
    "load_star_schema",
    "flagship_top10",
    "SECTOR_BY_BRAZIL_INDEX",
    "SECTOR_BY_COUNTRY",
    "DEFAULT_SECTOR_BRAZIL",
    "DEFAULT_SECTOR_OTHER",
]
