from kkbox_churn_prediction_spark.sources.events import (  # noqa: F401
    conversations_from_events,
    cutoffs_from_events,
    read_table,
)
