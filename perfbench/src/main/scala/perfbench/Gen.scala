package perfbench

import graft.json.Json

/** One generated twin: id, DTDL model and its user properties in a fixed
  * order (values are String, Int or Double). */
final case class Twin(id: String, model: String, props: Vector[(String, Any)]) {
  def prop(k: String): Any = props.collectFirst { case (`k`, v) => v }.orNull
}

/** One generated relationship. */
final case class Rel(rid: String, src: String, dst: String, name: String,
    props: Vector[(String, Any)] = Vector.empty)

/** Size of the site→building→floor→room→device hierarchy and of the
  * lateral edge fan-out. */
final case class Shape(sites: Int, buildings: Int, floors: Int, rooms: Int,
    devices: Int, feedsPerSensor: Int, servedByPerRoom: Int, spareGroups: Int = 0)

object Shape {
  /** The serving graph: small enough to import in a second, with every
    * query shape still answering from several partitions. */
  val Serve = Shape(sites = 2, buildings = 3, floors = 4, rooms = 5,
    devices = 4, feedsPerSensor = 3, servedByPerRoom = 2)

  /** The analytics graph: about 96 k directed edges. PageRank, label
    * propagation and VLE have no driver-local path and always loop
    * distributed; k-core peels a symmetric edge set of about 190 k rows, so
    * it and the k-core maintainer's region search run distributed too; SCC
    * and WCC sit just under the 100 k driver-local cutoff. Spare groups are
    * uncommissioned devices outside any site, wired to each other only
    * (see [[Gen.SpareGroupSize]]). */
  val Analytics = Shape(sites = 12, buildings = 4, floors = 6, rooms = 8,
    devices = 8, feedsPerSensor = 10, servedByPerRoom = 2, spareGroups = 100)

  /** The analytics graph cut to one site of two buildings (about 4 k
    * edges): `graph_refresh` warms up on it before timing. */
  val Warmup = Shape(sites = 1, buildings = 2, floors = 6, rooms = 8,
    devices = 8, feedsPerSensor = 10, servedByPerRoom = 2)
}

/** A generated digital-twin graph plus the lookups the correctness checks
  * need. Everything is derived from the seed; the engine only ever sees
  * the documents rendered from it. */
final case class GenGraph(twins: IndexedSeq[Twin], rels: IndexedSeq[Rel]) {
  lazy val byId: Map[String, Twin] = twins.iterator.map(t => t.id -> t).toMap
  lazy val outgoing: Map[String, IndexedSeq[Rel]] =
    rels.groupBy(_.src).withDefaultValue(IndexedSeq.empty)
  def ofModel(m: String): IndexedSeq[Twin] = twins.filter(_.model == m)
  def edges: Array[(String, String)] = rels.iterator.map(r => (r.src, r.dst)).toArray

  /** SHA-256 over every twin and relationship, field by field. */
  lazy val hash: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    twins.foreach(t => md.update(s"${t.id}|${t.model}|${t.props.mkString(",")}\n".getBytes("UTF-8")))
    rels.foreach(r => md.update(s"${r.src}|${r.rid}|${r.dst}|${r.name}|${r.props.mkString(",")}\n"
      .getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Zipf(s) sampler over ranks 0 until n (rank 0 is the most popular). */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rnd: java.util.Random): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Gen {

  /** The fixed timestamp every generated document carries. */
  val Stamp = "2026-01-01T00:00:00Z"

  val Space = "dtmi:bench:Space;1"
  val Site = "dtmi:bench:Site;1"
  val Building = "dtmi:bench:Building;1"
  val Floor = "dtmi:bench:Floor;1"
  val Room = "dtmi:bench:Room;1"
  val Asset = "dtmi:bench:Asset;1"
  val Device = "dtmi:bench:Device;1"
  val Sensor = "dtmi:bench:Sensor;1"

  private def iface(id: String, ext: Option[String], contents: String*): String = {
    val e = ext.map(b => s""""extends":"$b",""").getOrElse("")
    s"""{"@id":"$id","@type":"Interface","@context":"dtmi:dtdl:context;3",""" +
      s"""$e"contents":[${contents.mkString(",")}]}"""
  }
  private def prop(name: String, schema: String) =
    s"""{"@type":"Property","name":"$name","schema":"$schema"}"""

  /** DTDL models: spaces with one level of `extends`, assets with two
    * (Asset ← Device ← Sensor), so IS_OF_MODEL(Asset) needs the
    * inheritance closure. */
  val models: Seq[String] = Seq(
    iface(Space, None, prop("name", "string"),
      """{"@type":"Relationship","name":"contains"}"""),
    iface(Site, Some(Space), prop("region", "string")),
    iface(Building, Some(Space), prop("floors", "integer")),
    iface(Floor, Some(Space), prop("level", "integer")),
    iface(Room, Some(Space), prop("area", "double"),
      """{"@type":"Relationship","name":"servedBy"}"""),
    iface(Asset, None, prop("name", "string"), prop("serial", "string"),
      prop("writeTag", "string"),
      """{"@type":"Relationship","name":"feeds"}""",
      s"""{"@type":"Relationship","name":"monitors","target":"$Space",""" +
        s""""properties":[${prop("tag", "string")}]}"""),
    iface(Device, Some(Asset), prop("temperature", "double"),
      prop("status", "string")),
    iface(Sensor, Some(Device), prop("unit", "string")))

  /** Model id → itself plus every model that extends it, transitively. */
  val descendants: Map[String, Set[String]] = {
    val parent = Map(Site -> Space, Building -> Space, Floor -> Space,
      Room -> Space, Device -> Asset, Sensor -> Device)
    val all = Seq(Space, Site, Building, Floor, Room, Asset, Device, Sensor)
    def ancestors(m: String): List[String] =
      m :: parent.get(m).map(ancestors).getOrElse(Nil)
    all.map(m => m -> all.filter(d => ancestors(d).contains(m)).toSet).toMap
  }

  def build(seed: Long, shape: Shape): GenGraph = {
    val rnd = new java.util.Random(seed)
    val twins = Vector.newBuilder[Twin]
    val rels = Vector.newBuilder[Rel]
    val regions = Vector("north", "south", "east", "west")
    val statuses = Vector("ok", "ok", "ok", "ok", "warn", "fault")
    def contains(parent: String, child: String): Unit =
      rels += Rel(s"c_$child", parent, child, "contains")
    def device(id: String, d: Int): Twin = {
      val common = Vector("name" -> s"Device $id",
        "serial" -> f"SN${rnd.nextInt(1000000)}%06d",
        "writeTag" -> "init",
        "temperature" -> (150 + rnd.nextInt(150)) / 10.0,
        "status" -> statuses(rnd.nextInt(statuses.size)))
      if (d % 3 == 0) Twin(id, Sensor, common :+ ("unit" -> "C")) else Twin(id, Device, common)
    }
    for (s <- 0 until shape.sites) {
      val site = s"s$s"
      twins += Twin(site, Site, Vector("name" -> s"Site $s",
        "region" -> regions(rnd.nextInt(regions.size))))
      for (b <- 0 until shape.buildings) {
        val bld = s"${site}b$b"
        twins += Twin(bld, Building, Vector("name" -> s"Building $bld",
          "floors" -> shape.floors))
        contains(site, bld)
        val bldDevices = Vector.newBuilder[String]
        for (f <- 0 until shape.floors) {
          val flr = s"${bld}f$f"
          twins += Twin(flr, Floor, Vector("name" -> s"Floor $flr", "level" -> f))
          contains(bld, flr)
          val flrDevices = Vector.newBuilder[String]
          val rooms = Vector.newBuilder[String]
          for (r <- 0 until shape.rooms) {
            val room = s"${flr}r$r"
            twins += Twin(room, Room, Vector("name" -> s"Room $room",
              "area" -> (100 + rnd.nextInt(700)) / 10.0))
            contains(flr, room)
            rooms += room
            for (d <- 0 until shape.devices) {
              val dev = s"${room}d$d"
              twins += device(dev, d)
              contains(room, dev)
              flrDevices += dev
            }
          }
          val devs = flrDevices.result()
          bldDevices ++= devs
          // servedBy: each room → Zipf-popular devices of its floor
          val perm = shuffled(devs, rnd)
          val z = new Zipf(perm.size, 1.1)
          for (room <- rooms.result()) lateral(rnd, z, perm, room,
            shape.servedByPerRoom).zipWithIndex.foreach { case (d, i) =>
              rels += Rel(s"sv_${room}_$i", room, d, "servedBy")
            }
        }
        // feeds: each sensor feeds Zipf-popular devices of its building, and
        // a few devices feed back to a popular sensor (control loops), so
        // the graph has hubs, dense cores and small cycles, all inside one
        // site.
        val devs = bldDevices.result()
        val (sensors, actuators) = devs.partition(_.last.asDigit % 3 == 0)
        val actPerm = shuffled(actuators, rnd)
        val senPerm = shuffled(sensors, rnd)
        val za = new Zipf(actPerm.size, 1.1)
        val zs = new Zipf(senPerm.size, 1.1)
        for (sen <- sensors) lateral(rnd, za, actPerm, sen, shape.feedsPerSensor)
          .zipWithIndex.foreach { case (d, i) => rels += Rel(s"f_${sen}_$i", sen, d, "feeds") }
        for (act <- actuators if rnd.nextDouble() < LoopShare)
          lateral(rnd, zs, senPerm, act, 1).foreach(d => rels += Rel(s"f_${act}_0", act, d, "feeds"))
      }
    }
    // spare groups: a sensor feeding the other devices of its group
    for (k <- 0 until shape.spareGroups) {
      val ids = (0 until SpareGroupSize).map(d => s"x${k}d$d")
      ids.zipWithIndex.foreach { case (id, d) => twins += device(id, d) }
      ids.tail.zipWithIndex.foreach { case (d, i) => rels += Rel(s"f_${ids.head}_$i", ids.head, d, "feeds") }
    }
    GenGraph(twins.result(), rels.result())
  }

  /** Devices per spare group. */
  val SpareGroupSize = 3

  /** Share of non-sensor devices that feed back to a sensor. */
  val LoopShare = 0.05

  /** Up to `k` distinct Zipf-drawn targets, never `src` itself. */
  private def lateral(rnd: java.util.Random, z: Zipf, perm: Vector[String],
      src: String, k: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    var tries = 0
    while (out.size < k && tries < k * 8) {
      val t = perm(z.sample(rnd))
      if (t != src) out += t
      tries += 1
    }
    out.toSeq
  }

  private def shuffled[A](xs: Vector[A], rnd: java.util.Random): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  private def putValue(o: com.fasterxml.jackson.databind.node.ObjectNode,
      k: String, v: Any): Unit = v match {
    case s: String => o.put(k, s)
    case i: Int => o.put(k, i)
    case d: Double => o.put(k, d)
    case other => throw new IllegalArgumentException(s"unsupported value $other")
  }

  /** The stored form of a twin: system properties, per-property metadata
    * and a stable ETag, exactly what the store serves back on a GET. */
  def twinNode(t: Twin): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = Json.obj()
    o.put("$dtId", t.id)
    o.put("$etag", graft.core.ETag.generate(t.id, Stamp))
    val meta = o.putObject("$metadata")
    meta.put("$model", t.model)
    meta.put("$lastUpdateTime", Stamp)
    t.props.foreach { case (k, v) =>
      meta.putObject(k).put("lastUpdateTime", Stamp)
      putValue(o, k, v)
    }
    o
  }

  def twinDoc(t: Twin): String = Json.render(twinNode(t))

  def relNode(r: Rel): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = Json.obj()
    o.put("$relationshipId", r.rid)
    o.put("$sourceId", r.src)
    o.put("$targetId", r.dst)
    o.put("$relationshipName", r.name)
    o.put("$etag", graft.core.ETag.generate(r.rid, Stamp))
    r.props.foreach { case (k, v) => putValue(o, k, v) }
    o
  }

  def relDoc(r: Rel): String = Json.render(relNode(r))
}
