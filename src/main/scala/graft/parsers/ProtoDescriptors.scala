package graft.parsers

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Protobuf wire-format ENCODING primitives (public encoding,
  * https://protobuf.dev/programming-guides/encoding/). Used to build
  * test wires and — critically — to hand-assemble `FileDescriptorSet`
  * bytes so the descriptor-driven decode path ([[ProtoDescriptors]])
  * can be exercised without any protobuf runtime or compiler in the
  * container. Runtime-free, like [[ProtoReader]]'s decoder.
  */
object ProtoWire {
  def varint(v: Long): Array[Byte] = {
    val b = ArrayBuffer[Byte]()
    var x = v
    while ({
      val l7 = (x & 0x7f).toByte
      x = x >>> 7
      b += (if (x != 0) (l7 | 0x80).toByte else l7)
      x != 0
    }) ()
    b.toArray
  }
  def tag(field: Int, wireType: Int): Array[Byte] =
    varint((field.toLong << 3) | wireType)
  def vint(field: Int, v: Long): Array[Byte] = tag(field, 0) ++ varint(v)
  /** Zigzag encode (sint32/sint64): n -> 2n / 2|n|-1. */
  def zigzagEnc(v: Long): Long = (v << 1) ^ (v >> 63)
  def sint(field: Int, v: Long): Array[Byte] =
    tag(field, 0) ++ varint(zigzagEnc(v))
  def lenDelim(field: Int, payload: Array[Byte]): Array[Byte] =
    tag(field, 2) ++ varint(payload.length.toLong) ++ payload
  def str(field: Int, s: String): Array[Byte] =
    lenDelim(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  def fixed64(field: Int, bits: Long): Array[Byte] =
    tag(field, 1) ++ (0 until 8).map(i => ((bits >>> (8 * i)) & 0xff).toByte)
  def fixed32(field: Int, bits: Int): Array[Byte] =
    tag(field, 5) ++ (0 until 4).map(i => ((bits >>> (8 * i)) & 0xff).toByte)
  def dbl(field: Int, d: Double): Array[Byte] =
    fixed64(field, java.lang.Double.doubleToLongBits(d))
  /** Packed repeated varints (proto3 default encoding for repeated
    * numerics): one length-delimited blob of concatenated varints. */
  def packedVarints(field: Int, vs: Seq[Long]): Array[Byte] =
    lenDelim(field, vs.flatMap(varint).toArray)
  def concat(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
}

/** Descriptor-driven protobuf decode (reference:
  * pkg/parsers/registry/protobuf — arbitrary messages decoded from
  * their descriptors; s3/reader/registry/proto/factory.go:17-18). The
  * descriptor carrier `FileDescriptorSet` is itself a protobuf message
  * (public descriptor.proto), so [[ProtoReader]]'s runtime-free wire
  * decoder bootstraps it: parse the set, build the message registry,
  * derive the Spark schema, decode nested messages and repeated
  * (packed or not) fields recursively. No protobuf runtime anywhere.
  */
object ProtoDescriptors {
  // FieldDescriptorProto.Type values (public descriptor.proto)
  val TDouble = 1; val TFloat = 2; val TInt64 = 3; val TUint64 = 4
  val TInt32 = 5; val TFixed64 = 6; val TFixed32 = 7; val TBool = 8
  val TString = 9; val TGroup = 10; val TMessage = 11; val TBytes = 12
  val TUint32 = 13; val TEnum = 14; val TSfixed32 = 15; val TSfixed64 = 16
  val TSint32 = 17; val TSint64 = 18
  val LabelRepeated = 3

  final case class FieldDesc(name: String, number: Int, label: Int,
                             ptype: Int, typeName: String) {
    def repeated: Boolean = label == LabelRepeated
  }
  /** `mapEntry` marks a protoc-synthesized map entry message
    * (MessageOptions.map_entry): a repeated field of such a message IS
    * a `map<key, value>` on the wire (entry fields key=1, value=2).
    * `isEnum` marks an enum registered in the same namespace: its
    * "fields" are the (value-name, value-number) pairs, so enum fields
    * decode to their declared NAMES (the spark-protobuf convention)
    * with unknown numbers kept numerically (proto3 open enums). */
  final case class MessageDesc(fullName: String, fields: Seq[FieldDesc],
                               mapEntry: Boolean = false,
                               isEnum: Boolean = false)

  import ProtoReader.{WireValue, VarintV, Fixed64V, Fixed32V, BytesV}

  /** Ordered walk of every field occurrence in a message — unlike
    * [[ProtoReader.wireFields]] (last-wins map), repeated fields need
    * every occurrence in wire order. */
  def wireSeq(bytes: Array[Byte]): Seq[(Int, WireValue)] = {
    var i = 0
    val out = ArrayBuffer[(Int, WireValue)]()
    def varint(): Long = {
      var shift = 0; var v = 0L
      while ({ val b = bytes(i); i += 1; v |= (b & 0x7fL) << shift
               shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    while (i < bytes.length) {
      val tag = varint()
      val field = (tag >> 3).toInt
      (tag & 7).toInt match {
        case 0 => out += field -> VarintV(varint())
        case 1 =>
          var v = 0L
          for (j <- 0 until 8) { v |= (bytes(i + j) & 0xffL) << (8 * j) }
          i += 8; out += field -> Fixed64V(v)
        case 2 =>
          val len = varint().toInt
          out += field -> BytesV(bytes.slice(i, i + len)); i += len
        case 5 =>
          var v = 0
          for (j <- 0 until 4) { v |= (bytes(i + j) & 0xff) << (8 * j) }
          i += 4; out += field -> Fixed32V(v)
        case wt => throw new IllegalArgumentException(s"wire type $wt unsupported")
      }
    }
    out.toSeq
  }

  private def bytesOf(v: WireValue): Array[Byte] = v match {
    case BytesV(b) => b
    case other => throw new IllegalArgumentException(s"expected bytes, got $other")
  }
  private def strOf(v: WireValue): String =
    new String(bytesOf(v), java.nio.charset.StandardCharsets.UTF_8)
  private def longOf(v: WireValue): Long = v match {
    case VarintV(x) => x
    case other => throw new IllegalArgumentException(s"expected varint, got $other")
  }

  /** Parse `FileDescriptorSet` bytes into a registry of fully-qualified
    * message name -> [[MessageDesc]] (nested types register as
    * `pkg.Outer.Inner`). Only the fields the decoder needs are read;
    * unknown descriptor fields are skipped by construction. */
  def parseSet(bytes: Array[Byte]): Map[String, MessageDesc] = {
    val reg = scala.collection.mutable.Map[String, MessageDesc]()
    // FileDescriptorSet.file = 1 (repeated FileDescriptorProto)
    wireSeq(bytes).collect { case (1, v) => bytesOf(v) }.foreach { fileB =>
      val fileFields = wireSeq(fileB)
      // FileDescriptorProto.package = 2, .message_type = 4
      val pkg = fileFields.collectFirst { case (2, v) => strOf(v) }.getOrElse("")
      fileFields.collect { case (4, v) => bytesOf(v) }.foreach { msgB =>
        registerMessage(msgB, if (pkg.isEmpty) "" else pkg, reg)
      }
      // FileDescriptorProto.enum_type = 5
      fileFields.collect { case (5, v) => bytesOf(v) }.foreach { enB =>
        registerEnum(enB, if (pkg.isEmpty) "" else pkg, reg)
      }
    }
    reg.toMap
  }

  /** DescriptorProto: name=1, field=2 (FieldDescriptorProto),
    * nested_type=3 (DescriptorProto), options=7 (MessageOptions, whose
    * map_entry=7 flags protoc-synthesized map entries). */
  private def registerMessage(bytes: Array[Byte], prefix: String,
      reg: scala.collection.mutable.Map[String, MessageDesc]): Unit = {
    val parts = wireSeq(bytes)
    val name = parts.collectFirst { case (1, v) => strOf(v) }
      .getOrElse(throw new IllegalArgumentException("unnamed message descriptor"))
    val fullName = if (prefix.isEmpty) name else s"$prefix.$name"
    val fields = parts.collect { case (2, v) => bytesOf(v) }.map { fb =>
      // FieldDescriptorProto: name=1, number=3, label=4, type=5, type_name=6
      val fp = wireSeq(fb)
      FieldDesc(
        name = fp.collectFirst { case (1, v) => strOf(v) }.getOrElse(""),
        number = fp.collectFirst { case (3, v) => longOf(v).toInt }.getOrElse(0),
        label = fp.collectFirst { case (4, v) => longOf(v).toInt }.getOrElse(1),
        ptype = fp.collectFirst { case (5, v) => longOf(v).toInt }.getOrElse(0),
        typeName = fp.collectFirst { case (6, v) => strOf(v) }.getOrElse(""))
    }
    val mapEntry = parts.collectFirst { case (7, v) => bytesOf(v) }
      .exists(ob => wireSeq(ob)
        .collectFirst { case (7, ov) => longOf(ov) != 0L }.getOrElse(false))
    reg(fullName) = MessageDesc(fullName, fields, mapEntry)
    parts.collect { case (3, v) => bytesOf(v) }
      .foreach(registerMessage(_, fullName, reg))
    // DescriptorProto.enum_type = 4 (nested enums)
    parts.collect { case (4, v) => bytesOf(v) }
      .foreach(registerEnum(_, fullName, reg))
  }

  /** EnumDescriptorProto: name=1, value=2 (EnumValueDescriptorProto:
    * name=1, number=2). Registered as an isEnum [[MessageDesc]]. */
  private def registerEnum(bytes: Array[Byte], prefix: String,
      reg: scala.collection.mutable.Map[String, MessageDesc]): Unit = {
    val parts = wireSeq(bytes)
    val name = parts.collectFirst { case (1, v) => strOf(v) }
      .getOrElse(throw new IllegalArgumentException("unnamed enum descriptor"))
    val fullName = if (prefix.isEmpty) name else s"$prefix.$name"
    val values = parts.collect { case (2, v) => bytesOf(v) }.map { vb =>
      val vp = wireSeq(vb)
      FieldDesc(
        name = vp.collectFirst { case (1, v) => strOf(v) }.getOrElse(""),
        number = vp.collectFirst { case (2, v) => longOf(v).toInt }.getOrElse(0),
        label = 1, ptype = 0, typeName = "")
    }
    reg(fullName) = MessageDesc(fullName, values, isEnum = true)
  }

  private def enumOf(f: FieldDesc,
                     reg: Map[String, MessageDesc]): Option[MessageDesc] =
    if (f.typeName.isEmpty) None
    else reg.get(f.typeName.stripPrefix(".")).filter(_.isEnum)

  private def resolve(typeName: String, reg: Map[String, MessageDesc]): MessageDesc =
    reg.getOrElse(typeName.stripPrefix("."),
      throw new IllegalArgumentException(s"unknown message type $typeName"))

  private def isMapField(f: FieldDesc, reg: Map[String, MessageDesc]): Boolean =
    f.repeated && f.ptype == TMessage && resolve(f.typeName, reg).mapEntry

  private def mapKV(f: FieldDesc,
                    reg: Map[String, MessageDesc]): (FieldDesc, FieldDesc) = {
    val entry = resolve(f.typeName, reg)
    (entry.fields.find(_.number == 1).getOrElse(throw new
        IllegalArgumentException(s"map field ${f.name}: entry lacks key")),
      entry.fields.find(_.number == 2).getOrElse(throw new
        IllegalArgumentException(s"map field ${f.name}: entry lacks value")))
  }

  private def elemType(f: FieldDesc, reg: Map[String, MessageDesc]): DataType =
    f.ptype match {
      case TDouble => DoubleType
      case TFloat => FloatType
      case TInt64 | TUint64 | TSint64 | TFixed64 | TSfixed64 => LongType
      case TEnum if enumOf(f, reg).isDefined => StringType
      case TInt32 | TUint32 | TSint32 | TFixed32 | TSfixed32 | TEnum => IntegerType
      case TBool => BooleanType
      case TString => StringType
      case TBytes => BinaryType
      case TMessage => structType(resolve(f.typeName, reg), reg)
      case t => throw new IllegalArgumentException(
        s"field ${f.name}: proto type $t unsupported")
    }

  /** Spark schema of a message per the descriptor: nested messages are
    * structs, repeated fields arrays, map fields (repeated map-entry
    * messages) MapType; groups (deprecated) rejected. */
  def structType(msg: MessageDesc, reg: Map[String, MessageDesc]): StructType =
    StructType(msg.fields.map { f =>
      val dt: DataType =
        if (isMapField(f, reg)) {
          val (k, v) = mapKV(f, reg)
          MapType(elemType(k, reg), elemType(v, reg))
        }
        else if (f.repeated) ArrayType(elemType(f, reg))
        else elemType(f, reg)
      StructField(f.name, dt)
    })

  private def isVarintType(t: Int): Boolean = t match {
    case TInt64 | TUint64 | TInt32 | TUint32 | TSint32 | TSint64 |
         TBool | TEnum => true
    case _ => false
  }
  private def isFixed64Type(t: Int): Boolean =
    t == TDouble || t == TFixed64 || t == TSfixed64
  private def isFixed32Type(t: Int): Boolean =
    t == TFloat || t == TFixed32 || t == TSfixed32

  private def scalarOf(f: FieldDesc, v: WireValue,
                       reg: Map[String, MessageDesc]): Any = (v, f.ptype) match {
    case (VarintV(x), TInt64 | TUint64) => x
    case (VarintV(x), TEnum) => enumOf(f, reg) match {
      case Some(e) => e.fields.find(_.number == x.toInt).map(_.name)
        .getOrElse(x.toInt.toString) // proto3 open enum: unknown stays numeric
      case None => x.toInt // no descriptor for the type: raw number
    }
    case (VarintV(x), TInt32 | TUint32) => x.toInt
    case (VarintV(x), TSint64) => ProtoReader.zigzag(x)
    case (VarintV(x), TSint32) => ProtoReader.zigzag(x).toInt
    case (VarintV(x), TBool) => x != 0L
    case (Fixed64V(x), TDouble) => java.lang.Double.longBitsToDouble(x)
    case (Fixed64V(x), TFixed64 | TSfixed64) => x
    case (Fixed32V(x), TFloat) => java.lang.Float.intBitsToFloat(x)
    case (Fixed32V(x), TFixed32 | TSfixed32) => x
    case (BytesV(x), TString) =>
      new String(x, java.nio.charset.StandardCharsets.UTF_8)
    case (BytesV(x), TBytes) => x
    case (BytesV(x), TMessage) => decodeMessage(resolve(f.typeName, reg), reg, x)
    case (other, t) => throw new IllegalArgumentException(
      s"field ${f.name}: cannot decode $other as proto type $t")
  }

  /** Unpack a packed-repeated blob (proto3 default for repeated
    * numerics): consecutive base-wire-type values, no tags. */
  private def unpack(f: FieldDesc, blob: Array[Byte],
                     reg: Map[String, MessageDesc]): Seq[Any] = {
    var i = 0
    val out = ArrayBuffer[Any]()
    def varint(): Long = {
      var shift = 0; var v = 0L
      while ({ val b = blob(i); i += 1; v |= (b & 0x7fL) << shift
               shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    while (i < blob.length) {
      if (isVarintType(f.ptype)) out += scalarOf(f, VarintV(varint()), reg)
      else if (isFixed64Type(f.ptype)) {
        var v = 0L
        for (j <- 0 until 8) { v |= (blob(i + j) & 0xffL) << (8 * j) }
        i += 8; out += scalarOf(f, Fixed64V(v), reg)
      } else if (isFixed32Type(f.ptype)) {
        var v = 0
        for (j <- 0 until 4) { v |= (blob(i + j) & 0xff) << (8 * j) }
        i += 4; out += scalarOf(f, Fixed32V(v), reg)
      } else throw new IllegalArgumentException(
        s"field ${f.name}: packed encoding invalid for proto type ${f.ptype}")
    }
    out.toSeq
  }

  /** Decode one message against its descriptor: repeated fields keep
    * every occurrence in wire order (packed blobs unpacked in place),
    * scalars take the last occurrence (proto3 last-wins), nested
    * messages recurse into Rows. Missing: repeated -> empty array,
    * scalar/message -> null. */
  def decodeMessage(msg: MessageDesc, reg: Map[String, MessageDesc],
                    bytes: Array[Byte]): org.apache.spark.sql.Row = {
    val byNumber = wireSeq(bytes).groupBy(_._1)
    org.apache.spark.sql.Row.fromSeq(msg.fields.map { f =>
      val occ = byNumber.getOrElse(f.number, Nil).map(_._2)
      if (isMapField(f, reg)) {
        // map fields: each occurrence is one entry message; duplicate
        // keys take the LAST entry (the public proto3 map merge rule)
        val (kf, vf) = mapKV(f, reg)
        occ.map { v =>
          val e = wireSeq(bytesOf(v)).groupBy(_._1)
          def part(fd: FieldDesc) =
            e.getOrElse(fd.number, Nil).lastOption
              .map(p => scalarOf(fd, p._2, reg)).orNull
          part(kf) -> part(vf)
        }.toMap
      } else if (f.repeated) {
        occ.flatMap {
          // a length-delimited value on a numeric repeated field is a
          // packed blob; on string/bytes/message it's one element
          case BytesV(blob) if isVarintType(f.ptype) ||
            isFixed64Type(f.ptype) || isFixed32Type(f.ptype) =>
            unpack(f, blob, reg)
          case v => Seq(scalarOf(f, v, reg))
        }
      } else occ.lastOption.map(scalarOf(f, _, reg)).orNull
    })
  }

  /** Parse a binary column of protobuf messages per a
    * `FileDescriptorSet`: the descriptor-driven path of the reference's
    * protobuf parser. `messageName` is the fully-qualified root message
    * (`pkg.Msg`). Distributed via [[ProtoReader.parse]] — the registry
    * and descriptors are small case classes, broadcast with the task
    * closure. */
  def parse(df: DataFrame, rawCol: String, descSet: Array[Byte],
            messageName: String): DataFrame = {
    val reg = parseSet(descSet)
    val root = reg.getOrElse(messageName,
      throw new IllegalArgumentException(s"message $messageName not in descriptor set"))
    val schema = structType(root, reg)
    ProtoReader.parse(df, rawCol, schema,
      bytes => decodeMessage(root, reg, bytes).toSeq)
  }

  /** Hand-assemble `FileDescriptorSet` bytes for a package of messages
    * — each message: (name, fields). Enough of descriptor.proto to
    * round-trip through [[parseSet]]; lets tests and fixtures exercise
    * the descriptor path without a protoc binary in the container. */
  def buildSet(pkg: String, messages: Seq[(String, Seq[FieldDesc])],
               mapEntries: Set[String] = Set.empty,
               enums: Seq[(String, Seq[(String, Int)])] = Nil): Array[Byte] = {
    import ProtoWire._
    def fieldProto(f: FieldDesc): Array[Byte] = concat(
      str(1, f.name), vint(3, f.number.toLong), vint(4, f.label.toLong),
      vint(5, f.ptype.toLong),
      if (f.typeName.nonEmpty) str(6, f.typeName) else Array.emptyByteArray)
    def msgProto(name: String, fields: Seq[FieldDesc]): Array[Byte] =
      concat((str(1, name) +:
        fields.map(f => lenDelim(2, fieldProto(f)))) ++
        // options(7).map_entry(7) marks protoc-style map entry messages
        (if (mapEntries(name)) Seq(lenDelim(7, vint(7, 1L)))
         else Nil): _*)
    def enumProto(name: String, vs: Seq[(String, Int)]): Array[Byte] =
      concat((str(1, name) +: vs.map { case (vn, num) =>
        lenDelim(2, concat(str(1, vn), vint(2, num.toLong))) }): _*)
    val fileProto = concat((str(2, pkg) +:
      (messages.map { case (n, fs) => lenDelim(4, msgProto(n, fs)) } ++
        enums.map { case (n, vs) => lenDelim(5, enumProto(n, vs)) })): _*)
    lenDelim(1, fileProto)
  }
}
