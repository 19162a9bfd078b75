package graft.streaming

import java.util.UUID

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

/** Keyed state of type `S` kept as the bytes of its `UnsafeRow`: the
  * codec of an operator whose state is a `GroupState[Array[Byte]]`,
  * stored with `Encoders.BINARY`, decoded on read and encoded on update.
  *
  * Spark resolves a stateful operator's state encoder again in every
  * micro-batch. When the state holds a collection, each resolution
  * gives its `MapObjects` deserializer fresh lambda-variable ids, which
  * appear in the generated source, so the code cache misses and Janino
  * compiles the deserializer again in every batch (74 times, 1.2 s on a
  * 4-core VM, for the interval join in one `graftbench` stream run).
  * This codec resolves `S`'s encoder once, on the driver, when the
  * operator is defined, so its projections compile once per query.
  * Spark's own state is then `BinaryType`, whose code is the same in
  * every batch, and its timeout scan copies bytes instead of
  * deserializing every key's pending state.
  *
  * A task receives its own copy of the codec, and generating the
  * projections' source in each task cost more than the rest of the
  * join's state function, so each executor thread builds them once
  * and keeps them for the codecs it used last.
  *
  * The stored bytes are not the struct Spark writes for an `S` state,
  * so a checkpoint written with `S` as the state type cannot be resumed
  * by an operator that keeps it through this codec, nor the reverse.
  */
final class StateBytes[S] private (encoder: ExpressionEncoder[S]) extends Serializable {

  private val id = UUID.randomUUID()

  private val width = encoder.schema.length

  private def projections: StateBytes.Projections[S] =
    StateBytes.perThread
      .get()
      .computeIfAbsent(id, _ => (encoder.createSerializer(), encoder.createDeserializer()))
      .asInstanceOf[StateBytes.Projections[S]]

  def encode(s: S): Array[Byte] = projections._1(s).asInstanceOf[UnsafeRow].copy().getBytes

  def decode(bytes: Array[Byte]): S = {
    val row = new UnsafeRow(width)
    row.pointTo(bytes, bytes.length)
    projections._2(row)
  }
}

object StateBytes {

  def apply[S: Encoder]: StateBytes[S] = new StateBytes(encoderFor[S].resolveAndBind())

  private type Projections[S] = (ExpressionEncoder.Serializer[S], ExpressionEncoder.Deserializer[S])

  /** Codecs whose projections one thread keeps. */
  private val PerThread = 16

  /** Each thread's projections by codec, least recently used first. */
  private val perThread = ThreadLocal.withInitial[java.util.LinkedHashMap[UUID, Projections[_]]] { () =>
    new java.util.LinkedHashMap[UUID, Projections[_]](PerThread, 0.75f, true) {
      override def removeEldestEntry(eldest: java.util.Map.Entry[UUID, Projections[_]]): Boolean = size > PerThread
    }
  }
}
