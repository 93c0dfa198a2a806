from tenzir_spark.cdc.engine import CdcEngine, descriptor_to_alter
from tenzir_spark.cdc.generator import gen_change_log, pages_schema
from tenzir_spark.cdc.extract import extract_text, extract_text_udf
from tenzir_spark.cdc.replay import replay

__all__ = [
    "CdcEngine", "descriptor_to_alter",
    "gen_change_log", "pages_schema", "extract_text", "extract_text_udf",
    "replay",
]
