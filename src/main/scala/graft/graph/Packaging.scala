package graft.graph

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import scala.jdk.CollectionConverters._

/** Graph packaging + zip component registry (SURVEY §2.4 G8 / G6).
  *
  * `packageGraph` mirrors the reference's upload bundle: a deflated zip
  * of the graph directory's non-ignored contents with paths relative to
  * the root (helpers.py:110-125 — `compress_directory` over
  * `directory_contents_to_upload`). The platform stores components as
  * exactly such zips and the CLI fetches them by `org/component@version`
  * (services/download.py:8-20); `componentResolverFromZips` (a local
  * zip store) and `componentResolverFromHttp` (a registry server) are the
  * engine-side equivalents, so a graph can `uses: org/component@v1`
  * against packaged artifacts. Both differ only in how they fetch a
  * zip; parsing the key, caching, unpacking and loading are shared.
  *
  * Entries are written in sorted path order with fixed timestamps, so
  * the same directory contents always produce byte-identical zips —
  * artifact digests are meaningful.
  */
object Packaging {

  /** Reference's component key shape (download.py:10). */
  val ComponentRe = raw"([\w\-]+)/([\w\-]+)@([\w\-.]+)".r

  private val ignoreDirs = Set(".git", "__pycache__", ".venv", ".idea",
    "node_modules", "target", ".bloop", ".metals")
  private def ignoreFile(name: String): Boolean =
    name.endsWith(".pyc") || name == ".DS_Store" || name.endsWith("~")

  /** Files to ship: walk skipping VCS/build dirs and junk files. */
  private[graph] def contents(dir: Path): Seq[Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(d: Path): Unit = {
      val stream = Files.list(d) // must close: each list() holds a dir handle
      val children = try stream.iterator().asScala.toSeq finally stream.close()
      children.sortBy(_.toString).foreach { p =>
        if (Files.isDirectory(p)) {
          if (!ignoreDirs(p.getFileName.toString)) walk(p)
        } else if (!ignoreFile(p.getFileName.toString)) out += p
      }
    }
    walk(dir)
    out.toSeq
  }

  /** Zip the graph directory (deterministic: sorted entries, epoch
    * timestamps, relative forward-slash paths).
    */
  def packageGraph(dir: String): Array[Byte] = {
    val root = Paths.get(dir)
    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes)
    contents(root).foreach { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      val e = new ZipEntry(rel)
      e.setTime(0L)
      zip.putNextEntry(e)
      zip.write(Files.readAllBytes(f))
      zip.closeEntry()
    }
    zip.close()
    bytes.toByteArray
  }

  def packageGraphTo(dir: String, zipPath: String): Unit =
    Files.write(Paths.get(zipPath), packageGraph(dir))

  /** Unpack a graph zip under `destDir` (zip-slip guarded: every entry
    * must resolve inside the destination).
    */
  def unpack(zipBytes: Array[Byte], destDir: String): Unit = {
    val dest = Paths.get(destDir).toAbsolutePath.normalize
    Files.createDirectories(dest)
    val zin = new ZipInputStream(new ByteArrayInputStream(zipBytes))
    var e = zin.getNextEntry
    while (e != null) {
      val target = dest.resolve(e.getName).normalize
      require(target.startsWith(dest),
        s"zip entry escapes destination: ${e.getName}")
      if (e.isDirectory) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.write(target, zin.readAllBytes())
      }
      zin.closeEntry()
      e = zin.getNextEntry
    }
    zin.close()
  }

  /** Component resolver over a zip store: `org/component@v1` →
    * `<root>/<org>/<component>/<v1>.zip`. The on-disk layout mirrors the
    * platform registry's download keys; resolution is pure-local.
    */
  def componentResolverFromZips(root: String,
      cacheDir: Option[String] = None): String => Option[GraphManifest] =
    cachingResolver(cacheDir) { (org, name, version) =>
      val zipPath = Paths.get(root, org, name, s"$version.zip")
      if (Files.exists(zipPath)) Some(Files.readAllBytes(zipPath)) else None
    }

  /** Component resolver over an HTTP registry: `org/component@v1` →
    * `GET <baseUrl>/components/<org>/<component>/<v1>.zip`, the wire
    * shape of the reference's `download_component_zip`
    * (services/download.py:17-20 GETs the component's zip by its
    * org/name/version key). A 404 or connection failure resolves to
    * None — the graph compile then reports "component not found" like
    * any unresolved `uses:`.
    */
  def componentResolverFromHttp(baseUrl: String,
      cacheDir: Option[String] = None): String => Option[GraphManifest] = {
    val client = java.net.http.HttpClient.newHttpClient()
    cachingResolver(cacheDir) { (org, name, version) =>
      val uri = java.net.URI.create(
        s"${baseUrl.stripSuffix("/")}/components/$org/$name/$version.zip")
      try {
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(uri).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        if (resp.statusCode() == 200) Some(resp.body()) else None
      } catch { case _: java.io.IOException => None }
    }
  }

  /** The one resolution path both registries share: a key must match
    * [[ComponentRe]]; its zip is fetched only when the cache (default: a
    * fresh temp dir) lacks it, unpacked once (slip-guarded) into
    * `<cache>/<org>/<component>/<version>`, and loaded as a manifest.
    */
  private def cachingResolver(cacheDir: Option[String])(
      fetch: (String, String, String) => Option[Array[Byte]])
      : String => Option[GraphManifest] = {
    val cache = Paths.get(cacheDir.getOrElse(
      Files.createTempDirectory("graft-components").toString))
    ref => ref match {
      case ComponentRe(org, name, version) =>
        val dest = cache.resolve(s"$org/$name/$version")
        val graphYml = dest.resolve("graph.yml")
        if (!Files.exists(graphYml))
          fetch(org, name, version).foreach(unpack(_, dest.toString))
        if (Files.exists(graphYml)) Some(GraphManifest.load(dest.toString)) else None
      case _ => None
    }
  }
}

/** Loopback HTTP registry serving packaged components from a local zip
  * store — the server side of [[Packaging.componentResolverFromHttp]]
  * (the platform's component-download endpoint,
  * services/download.py:17-20, re-expressed over the same JDK http
  * server the webhook edge uses). `GET /components/<org>/<name>/
  * <version>.zip` streams `<root>/<org>/<name>/<version>.zip`; anything
  * else is 404. Binds 127.0.0.1 only.
  */
final class ComponentRegistryServer(root: String, port: Int = 0) {
  import com.sun.net.httpserver.{HttpExchange, HttpHandler}

  private val server = WebhookServer.loopback(port)

  server.createContext("/components/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = try {
      val key = ex.getRequestURI.getPath.stripPrefix("/components/")
      key.stripSuffix(".zip").split('/') match {
        case Array(org, name, version) if ex.getRequestMethod == "GET" &&
            key.endsWith(".zip") =>
          // the resolvers' key grammar: anything else (e.g. a traversal
          // attempt) is not a key and 404s
          val ok = Packaging.ComponentRe.matches(s"$org/$name@$version")
          val zip = Paths.get(root, org, name, s"$version.zip")
          if (ok && Files.exists(zip)) {
            val bytes = Files.readAllBytes(zip)
            ex.getResponseHeaders.set("Content-Type", "application/zip")
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          } else ex.sendResponseHeaders(404, -1L)
        case _ => ex.sendResponseHeaders(404, -1L)
      }
    } finally ex.close()
  })
  server.start()

  def boundPort: Int = server.getAddress.getPort
  def baseUrl: String = s"http://127.0.0.1:$boundPort"
  def stop(): Unit = server.stop(0)
}
