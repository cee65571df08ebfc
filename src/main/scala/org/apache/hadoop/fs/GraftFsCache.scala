package org.apache.hadoop.fs

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.util.ShutdownHookManager

/** The one reach into Hadoop's package-private FileSystem cache. */
object GraftFsCache {

  /** Drop `fs`, the cached instance for `uri` under the current user,
    * from Hadoop's FileSystem cache, so the next `FileSystem.get` builds
    * one from `conf`. `fs` is not closed now: a holder of it keeps a
    * working filesystem, and paths registered with its `deleteOnExit`
    * are deleted at JVM exit, as they would have been had it stayed
    * cached. The cache is left as it is when it holds another instance
    * for `uri`.
    */
  def evict(fs: FileSystem, uri: URI, conf: Configuration): Unit = {
    FileSystem.CACHE.remove(new FileSystem.Cache.Key(uri, conf), fs)
    ShutdownHookManager.get().addShutdownHook(() => fs.close(),
      FileSystem.SHUTDOWN_HOOK_PRIORITY)
  }
}
