"""sources — batch table loaders, Kafka stream builder, OTLP flatteners."""

from .batch import TABLES, load_table
from .filestream import read_file_stream

__all__ = ["load_table", "TABLES"]
