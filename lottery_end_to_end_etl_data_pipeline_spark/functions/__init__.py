from lottery_end_to_end_etl_data_pipeline_spark.functions.coercion import (
    coerce_date_ddmmyyyy,
    coerce_double,
    coerce_long,
    normalize_na,
)
from lottery_end_to_end_etl_data_pipeline_spark.functions.expressions import (
    bin_by_width,
    calculate_odds,
    calculate_winning_percentage,
    ticket_price,
)

__all__ = [
    "coerce_date_ddmmyyyy",
    "coerce_double",
    "coerce_long",
    "normalize_na",
    "bin_by_width",
    "calculate_odds",
    "calculate_winning_percentage",
    "ticket_price",
]
