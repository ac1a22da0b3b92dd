from incubyte_vaccination_data_pipeline_spark.functions.derive import (  # noqa: F401
    age_years,
    staleness_flag,
)
