from real_time_streaming_system_with_apache_kafka_spark.sources.tables import load

__all__ = ["load"]
