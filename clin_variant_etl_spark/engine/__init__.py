from .apply import CdcPipeline, create_cdc_table  # noqa: F401
from .consume import CdfConsumer  # noqa: F401
from .matview import AggSpec, MaterializedAggregate  # noqa: F401
from .dedup import latest_by_key_salted  # noqa: F401
