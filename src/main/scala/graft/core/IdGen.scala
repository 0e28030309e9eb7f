package graft.core

import java.util.concurrent.atomic.AtomicLong
import java.time.{LocalDate, ZoneOffset}

/** Monotonic string id generator for gateway rows.
  *
  * Mirrors the reference's single global atomic counter seeded at
  * midnight-UTC epoch-seconds * 1e9
  * (reference: csp_gateway/utils/id_generator.py:9-16 and
  * utils/struct/base.py:61-63): ids are strings, strictly increasing,
  * unique within a process, and sortable by creation order.
  *
  * This generator lives on the driver and is used on the serving/ingest
  * path (REST `send`, initializers). Rows created *inside* a distributed
  * job must instead use [[graft.state.StateOps.withIngestMeta]] which
  * assigns ids with a codegen'd expression (no driver round-trip).
  */
final class IdGen(seed: Long) {
  private val counter = new AtomicLong(seed)
  def next(): String = counter.incrementAndGet().toString
  def current: Long = counter.get()
}

object IdGen {
  /** midnight-UTC today, epoch seconds, times 1e9 — reference seed. */
  def defaultSeed: Long =
    LocalDate.now(ZoneOffset.UTC).atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000000L

  lazy val global: IdGen = new IdGen(defaultSeed)
}
