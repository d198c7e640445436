"""Source connectors.

The reference reads Avro container files through a Hive InputFormat
(``AvroSCDInputFormat.java:51-59``).  Spark reads Parquet/ORC/JSON/CSV
natively; Avro normally needs the ``spark-avro`` package jar, which is
not bundled with pip PySpark.  When the jar is absent,
:mod:`hive_scd_spark.sources.avro` reads through the Hive ``AvroSerDe``
that pip PySpark does bundle (on a Hive-enabled session), and falls
back to a pure-Python container-file decoder for the reference's flat
type set where the SerDe cannot take the read.
"""

from hive_scd_spark.sources.avro import read_avro

__all__ = ["read_avro"]
