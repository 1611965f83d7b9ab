"""tabsdata_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of tabsdata/tabsdata, rebuilt Spark-first.

Public API mirrors the reference's `import tabsdata as td` surface:
`td.col`, `td.lit`, `td.TableFrame`, `td.concat`, dtypes, selectors, the
pub/sub decorators, and the connector classes.
"""

from . import extensions, io, llm, scale, store, streaming
from .io import (
    AzureDestination, AzureSource, CSVFormat, DestinationPlugin,
    FileDestination, FileSource, GCSDestination, GCSSource, LocalFileDestination,
    LocalFileSource, LogFormat, MariaDBDestination, MariaDBSource,
    MySQLDestination, MySQLSource, NDJSONFormat, OracleDestination,
    OracleSource, ParquetFormat, PostgresDestination, PostgresSource,
    S3Destination, S3Source, SourcePlugin, TableInput, TableOutput,
)
from .pubsub import PubSubEngine, publisher, subscriber, transformer
from .session import get_spark, owned
from .store import TableStore, TableURI
from .tableframe import (
    UDF, Boolean, Categorical, Column, Date, Datetime, Decimal, Duration,
    Enum, Expr, Float32, Float64, Int8, Int16, Int32, Int64, Int128, Null,
    String, TableFrame, TableFrameGroupBy, Time, UDFList, UDFUnpacked, UInt8,
    UInt16, UInt32, UInt64, Utf8, col, concat, concat_str, lit, selectors, when,
)

__version__ = "0.1.0"

__all__ = [
    "get_spark", "owned", "TableFrame", "TableFrameGroupBy", "Expr", "col", "lit",
    "when", "concat", "concat_str", "Column", "UDF", "UDFList", "UDFUnpacked", "selectors",
    "Boolean", "Date", "Datetime", "Decimal", "Duration", "Float32",
    "Float64", "Int8", "Int16", "Int32", "Int64", "Int128", "Null", "String",
    "Time", "UInt8", "UInt16", "UInt32", "UInt64", "Utf8", "Categorical",
    "Enum",
]
