"""Source builder framework + concrete connector-shaped sources.

The reference's entire connector surface is two builder contracts
(SURVEY.md §2.1-2.2): a batch source (connectionFn → searchFn → mapFn →
destroyFn, e.g. MongoDBSourceBuilder.java:121-126) and a replayable
streaming source (offset snapshot/restore, e.g.
PulsarReaderBuilder.java:156-199). Here those contracts become:

- `BatchSourceBuilder` — partition-parallel external reads via
  `mapInPandas` (client created per partition, bounded Arrow batches),
  with manual filter/projection pushdown arguments exactly like the
  reference's searchFn;
- replayable streaming sources (streaming/message_log.py, the generic
  `connector_host`) — offset-range readers checkpointed by Spark's WAL.

The four in-process stores (Redis sorted set and hash, MongoDB find,
InfluxDB) are Python DataSource V2 sources instead (`dsv2.py`): each
declares its output projection and the filters it absorbs, and one
reader executes the predicates Catalyst pushes into it.
"""

from hazelcast_jet_contrib_spark.sources.builder import BatchSourceBuilder, batch_source

__all__ = ["BatchSourceBuilder", "batch_source"]
